"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine — the training-data-pipeline operators the reference
lacked (north-star extensions, BASELINE.json).

Scale design (the point of every function here):

- **Exact** dedup is a hash groupBy on a 64/128-bit content fingerprint —
  map-side partial agg, one shuffle keyed by the hash (never by the full
  text), skew-free because fingerprints are uniform.
- **Near-dup** never does an O(n²) cross join. Candidate generation is
  always *bucketed*: MinHash band buckets, SimHash band buckets, or
  random-hyperplane buckets for embeddings. Only same-bucket pairs are
  scored; the verify step computes the exact similarity for candidates.
  This is the standard LSH shape: shuffle cost ~ O(n · bands), pair cost
  ~ O(sum of bucket²) which stays small when bands/rows are tuned.
- Hot per-element kernels (shingle hashing, signature minima, simhash
  votes, hyperplane keys) are Arrow-vectorized pandas UDFs — Spark's
  higher-order-function lambdas evaluate interpreted, and the numpy
  kernels measured 3-8x faster than the same math as expressions.
  Joins, scalar hashing, and verify math stay JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import threading

from ..functions.expr import DIGITS, _round_value, let_bind as _let
from ..plans.compile import ident, sql_literal
from ..plans.local import local_frame

from ..functions.text import (
    char_ngrams,
    doc_fingerprint,
    tokenize,
)


#: guards the refcounted constraint-propagation conf swap below — held
#: only for the set/restore bookkeeping, never across a label loop, so
#: concurrent dedup_components calls run their (minutes-long) loops in
#: parallel while the conf stays "false" until the LAST one exits.
_CONF_SWAP_LOCK = threading.Lock()
#: id(session) -> [active-loop refcount, conf value to restore]
_CONF_SWAP_STATE: dict = {}


class _constraints_off:
    """Context manager: disable ``spark.sql.constraintPropagation.enabled``
    for the session while ANY dedup_components label loop is active on it.

    Refcounted per session: the first entrant saves the previous value
    and flips the conf off; the last exiter restores it. The lock guards
    only the bookkeeping, so concurrent loops are not serialized. A
    concurrent UNRELATED query planned on the same session still sees the
    conf off while a loop runs (inherent to SQLConf being session-scoped
    — documented limitation, optimization-only impact); callers who need
    full isolation can run dedup_components on ``spark.newSession()``.
    """

    _CONF = "spark.sql.constraintPropagation.enabled"

    def __init__(self, spark):
        self._spark = spark
        self._key = id(spark)

    def __enter__(self):
        with _CONF_SWAP_LOCK:
            state = _CONF_SWAP_STATE.get(self._key)
            if state is None:
                prev = self._spark.conf.get(self._CONF, "true")
                self._spark.conf.set(self._CONF, "false")
                _CONF_SWAP_STATE[self._key] = [1, prev]
            else:
                state[0] += 1
        return self

    def __exit__(self, *exc):
        with _CONF_SWAP_LOCK:
            state = _CONF_SWAP_STATE[self._key]
            state[0] -= 1
            if state[0] == 0:
                del _CONF_SWAP_STATE[self._key]
                self._spark.conf.set(self._CONF, state[1])
        return False


def _bucket_pairs(
    buckets: DataFrame,
    key_cols: list[str],
    *,
    id_col: str = "_id",
    payload_col: str | None = None,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate pairs from LSH buckets via ONE groupBy.

    Collect each bucket's sorted member list, drop buckets with fewer than
    2 or more than ``max_bucket_size`` members (the hot-bucket guard: a
    giant exact-duplicate cluster would otherwise expand O(cluster²) pairs
    — run :func:`exact_dedup` first so identical texts never reach LSH),
    then expand ordered pairs locally with array expressions.

    vs the textbook alias self-join: ONE shuffle instead of join+window,
    and the upstream plan (including the signature UDF) is evaluated ONCE —
    a self-join recomputes its whole input for each side. ``payload_col``
    rides along in the collected structs so verify steps that only need a
    small per-id value (a simhash long, an embedding) need no join back.

    Output: (id_a, id_b) with id_a < id_b, plus (_pa, _pb) payloads when
    ``payload_col`` is set; de-duplicated across buckets.
    """
    if payload_col is not None:
        elem = f"struct({ident(id_col)} AS i, {ident(payload_col)} AS p)"
    else:
        elem = ident(id_col)
    grouped = buckets.groupBy(*key_cols).agg(
        F.expr(f"sort_array(collect_list({elem})) AS _es")
    )
    size_ok = "size(_es) >= 2"
    if max_bucket_size is not None:
        size_ok += f" AND size(_es) <= {sql_literal(max_bucket_size)}"
    # SQL lambdas: x (index i) pairs with every later member y
    pairs = (
        "flatten(transform(_es, (x, i) -> transform("
        "slice(_es, i + 2, greatest(size(_es) - i - 1, 0)), "
        "y -> struct(x AS a, y AS b))))"
    )
    out = grouped.filter(size_ok).selectExpr(f"explode({pairs}) AS _p")
    if payload_col is not None:
        out = out.selectExpr(
            "_p.a.i AS id_a", "_p.b.i AS id_b", "_p.a.p AS _pa", "_p.b.p AS _pb"
        )
    else:
        out = out.selectExpr("_p.a AS id_a", "_p.b AS id_b")
    return out.dropDuplicates(["id_a", "id_b"])


def cap_buckets(
    buckets: DataFrame, key_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket_size`` before a self-join.

    Guard against the hot-bucket quadratic blowup: a large exact-duplicate
    cluster (the norm in web-scale corpora) lands entirely in one bucket,
    turning the candidate self-join into O(cluster²) pairs on ONE reducer.
    The window count shuffles on the same keys the candidate join uses, so
    the partitioning is reused. Dropped pairs may still surface via another
    band; for exact-dup clusters run :func:`exact_dedup` first (recommended
    pipeline order) so near-dup only sees distinct texts.
    """
    if max_bucket_size is None:
        return buckets
    w = Window.partitionBy(*key_cols)
    return (
        buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    keep: str = "min",
) -> DataFrame:
    """One survivor per distinct (normalized) text.

    ``keep='min'`` keeps the smallest id (deterministic, oracle-friendly);
    ``keep='any'`` uses dropDuplicates (cheaper: no min agg, but
    nondeterministic survivor). Grouping key is the 64-bit fingerprint, so
    the shuffle carries hashes, not document bodies.
    """
    fp = doc_fingerprint(text_col)
    if keep == "any":
        return df.withColumn("_fp", fp).dropDuplicates(["_fp"]).drop("_fp")
    survivors = (
        df.select(F.col(id_col), fp.alias("_fp"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .drop("_fp")
    )
    # Broadcast-join survivors back when small; Catalyst/AQE decides —
    # survivor set ≤ input, join key is the id.
    return df.join(survivors, on=id_col, how="semi")


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str,
    *,
    ref_text_col: str | None = None,
    mode: str = "survivors",
) -> DataFrame:
    """Incremental dedup: drop rows of ``df`` whose (normalized) text
    already exists in ``reference`` — the daily-batch-vs-historical-corpus
    shape, where re-deduplicating the whole corpus per batch is a non-
    starter and the reference side is only its fingerprint set.

    ``mode='survivors'`` (default) returns the new rows (anti join);
    ``mode='dups'`` returns the rows already present (semi join).

    Scale shape: both sides reduce to 64-bit fingerprints before the
    join, so the shuffle carries hashes, not document bodies, and the
    reference projection is a single column (column pruning reaches the
    reference scan). In production the reference fingerprint set is the
    thing to persist between batches; AQE broadcasts it when it is small
    enough.
    """
    if mode not in ("survivors", "dups"):
        raise ValueError(f"dedup_against: unknown mode {mode!r}")
    ref_fp = (
        reference.select(
            doc_fingerprint(ref_text_col or text_col).alias("_fp")
        )
        .distinct()
    )
    how = "anti" if mode == "survivors" else "semi"
    return (
        df.withColumn("_fp", doc_fingerprint(text_col))
        .join(ref_fp, "_fp", how)
        .drop("_fp")
    )


def dup_cluster_profile(df: DataFrame, text_col: str) -> DataFrame:
    """Size distribution of exact-duplicate clusters — the planning view
    before a dedup run: how much of the corpus is duplicated, and whether
    duplication is a long tail of pairs or a few massive clusters (which
    decide the ``max_bucket_size`` / salting strategy downstream).

    Two cheap aggregations over fingerprints (the second over |distinct
    texts| rows): ``(cluster_size, n_clusters, n_docs)``, one row per
    distinct cluster size including the singletons row (cluster_size=1).
    """
    sizes = (
        df.select(doc_fingerprint(text_col).alias("_fp"))
        .groupBy("_fp")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def exact_dup_groups(
    df: DataFrame, text_col: str, id_col: str, *, max_ids: int = 1000
) -> DataFrame:
    """Groups of exact duplicates: fingerprint, multiplicity, member ids.

    ``ids`` keeps only the ``max_ids`` smallest members: a web-scale corpus
    has million-row duplicate clusters, and an unbounded ``collect_list``
    would concentrate a whole cluster's ids in one aggregation buffer. The
    cap is enforced BEFORE collection (row_number over the fingerprint,
    same key as the groupBy, so the aggregation reuses the window's
    partitioning — one shuffle total) and ``count`` is always the TRUE
    multiplicity."""
    ranked = df.select(
        F.col(id_col), doc_fingerprint(text_col).alias("fingerprint")
    ).withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("fingerprint").orderBy(F.col(id_col))
        ),
    )
    return (
        ranked.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sort_array(
                F.array_compact(
                    F.collect_list(
                        F.when(F.col("_rn") <= max_ids, F.col(id_col))
                    )
                )
            ).alias("ids"),
        )
        .filter(F.col("count") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def _bands(sig: str, num_bands: int, rows_per_band: int) -> str:
    """SQL text of ``array<struct<band:int, key:bigint>>`` over the
    signature array ``sig`` (SQL text) — one LSH bucket key per band
    (hash of the band's signature slice)."""
    return (
        f"transform(sequence(0, {num_bands - 1}), b -> struct("
        f"CAST(b AS INT) AS band, xxhash64(CAST(slice({sig}, "
        f"b * {rows_per_band} + 1, {rows_per_band}) AS ARRAY<BIGINT>)) AS key))"
    )


def _jaccard_sql(a: str, b: str) -> str:
    """SQL text of the exact Jaccard similarity of two arrays (as sets),
    ``a`` and ``b`` SQL expressions.

    Each distinct set and the intersection size are let-bound — a
    one-element ``transform`` whose lambda variable stands for the value
    (``element_at(transform(array(v), x -> ...), 1)``) — so each is
    evaluated once per row (|A∪B| = |A|+|B|−|A∩B|, no separate
    array_union set-build): interpreted higher-order-function evaluation
    has no common-subexpression elimination, and recomputing each per
    reference dominates pair-verify loops. Empty ∩ empty is 0.0, and so
    is a NULL array (its size is NULL, so the ``CASE`` takes its
    ``ELSE``). ``b`` is read inside the lambda that binds ``_jda``, so it
    must not name a column ``_jda``."""
    n = "size(_jda) + size(_jdb) - _jdi"
    body = f"CASE WHEN {n} > 0 THEN CAST(_jdi AS DOUBLE) / ({n}) ELSE 0.0D END"
    inter = f"element_at(transform(array(size(array_intersect(_jda, _jdb))), _jdi -> {body}), 1)"
    inner = f"element_at(transform(array(array_distinct({b})), _jdb -> {inter}), 1)"
    return f"element_at(transform(array(array_distinct({a})), _jda -> {inner}), 1)"


def jaccard(a: str, b: str) -> Column:
    """Exact Jaccard similarity of the arrays in columns ``a`` and ``b``
    (as sets): the :func:`_jaccard_sql` text, parsed once."""
    return F.expr(_jaccard_sql(ident(a), ident(b)))


def lsh_plan(
    threshold: float,
    *,
    target_recall: float = 0.99,
    reject_below: float | None = None,
    max_hashes: int = 512,
) -> dict:
    """Choose a MinHash banding configuration for
    :func:`minhash_near_dup_pairs` instead of guessing one.

    With ``b`` bands of ``r`` rows, a pair of similarity ``s`` becomes
    an LSH candidate with probability ``1-(1-s^r)^b``. This searches
    every ``r`` in [1, 32], takes the smallest ``b`` that reaches
    ``target_recall`` at ``threshold``, keeps the configs that fit in
    ``max_hashes`` total hashes, and among those picks the one with
    the lowest candidate probability at ``reject_below`` (default
    ``threshold - 0.2``) — i.e. the steepest usable S-curve: fewer
    false candidates means smaller LSH buckets, which is the term that
    actually scales (bucket² verify cost), so spending hash budget on
    steepness is usually right.

    Returns a dict usable directly as kwargs plus diagnostics::

        {"num_hashes", "num_bands", "rows_per_band",
         "recall_at_threshold", "candidate_rate_at_reject", "s_star"}

    ``s_star = (1/b) ** (1/r)`` is the S-curve midpoint — similarity
    where candidate probability is ~0.63; it should sit at or just
    below ``threshold``. Driver-side arithmetic only (no Spark): call
    it once and pass the result to the operator.

    >>> cfg = lsh_plan(0.7)
    >>> pairs = minhash_near_dup_pairs(df, "text", "doc_id",
    ...     num_hashes=cfg["num_hashes"], num_bands=cfg["num_bands"],
    ...     threshold=0.7)
    """
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"lsh_plan: threshold {threshold} not in (0, 1)")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(
            f"lsh_plan: target_recall {target_recall} not in (0, 1)"
        )
    s0 = reject_below if reject_below is not None else threshold - 0.2
    s0 = min(max(s0, 1e-6), threshold)

    def candidate_prob(s: float, r: int, b: int) -> float:
        return 1.0 - (1.0 - s**r) ** b

    best: dict | None = None
    for r in range(1, 33):
        p = threshold**r
        if p <= 0.0:
            break
        # smallest b reaching the recall target at `threshold`
        b = max(1, math.ceil(math.log1p(-target_recall) / math.log1p(-p)))
        n = b * r
        if n > max_hashes:
            continue
        cand = {
            "num_hashes": n,
            "num_bands": b,
            "rows_per_band": r,
            "recall_at_threshold": _round_value(candidate_prob(threshold, r, b)),
            "candidate_rate_at_reject": _round_value(candidate_prob(s0, r, b)),
            "s_star": _round_value((1.0 / b) ** (1.0 / r)),
        }
        if (
            best is None
            or cand["candidate_rate_at_reject"]
            < best["candidate_rate_at_reject"]
            or (
                cand["candidate_rate_at_reject"]
                == best["candidate_rate_at_reject"]
                and n < best["num_hashes"]
            )
        ):
            best = cand
    if best is None:
        raise ValueError(
            f"lsh_plan: no (bands, rows) config reaches recall "
            f"{target_recall} at threshold {threshold} within "
            f"{max_hashes} hashes — raise max_hashes or lower the target"
        )
    return best


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 128,
    shingle_n: int = 3,
    shingle: str = "char",
    seed: int = 42,
    hash_family: str = "blake2b",
) -> DataFrame:
    """``(_id, _h, _sig)`` MinHash signature frame — the shingle-hash
    set and ``num_hashes``-wide signature per document, exactly as
    :func:`minhash_near_dup_pairs` builds internally.

    Build it ONCE and pass it to several ``minhash_near_dup_pairs``
    calls via ``signatures=`` when only the BANDING differs between
    them (bands re-slice the same signature): the expensive
    shingle+hash kernel then runs once instead of once per
    configuration — the r16 recall-harness sharing knob. The ``_sig``
    column's metadata records ``num_hashes`` for that check. The
    operator bands over ``_sig`` and verifies candidate pairs by
    joining back to ``_h``, so every call reads this frame at least
    twice: the caller pins it (``plans.cache.pin``) so all consumers
    read one materialization; the operator pins the frame it builds
    itself.

    Both columns come from ONE Arrow pass
    (:func:`..functions.vectors.minhash_signature_np`): the signature is
    computed from the shingle hashes while they are still in the
    Python worker. Documents with no shingle (NULL text, or fewer than
    ``shingle_n`` words/characters) are dropped. ``shingle`` other than
    ``'word'``/``'char'`` or ``shingle_n < 1`` raises ValueError."""
    from ..functions.vectors import minhash_signature_np
    from ..plans.parallelism import ensure_min_partitions

    kernel = minhash_signature_np(
        shingle, shingle_n, seed, hash_family, num_hashes
    )
    return (
        ensure_min_partitions(df)
        .select(
            F.expr(f"{ident(id_col)} AS _id"),
            kernel(ident(text_col)).alias("_hs"),
        )
        .filter("_hs._h IS NOT NULL")
        .select(
            "_id",
            F.expr("_hs._h AS _h"),
            # the width rides in the schema: checkable without running a job
            F.col("_hs._sig").alias("_sig", metadata={"num_hashes": num_hashes}),
        )
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 128,
    num_bands: int = 32,
    shingle_n: int = 3,
    shingle: str = "char",
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    hash_family: str = "blake2b",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, exact jaccard >= threshold) via
    MinHash banding.

    ``shingle='char'`` hashes character n-grams (robust to token noise,
    ~len(text) shingles/doc); ``shingle='word'`` hashes ``shingle_n``-word
    shingles (the classic Broder config, ~token-count shingles/doc — ~6x
    fewer hash ops on prose, the scale default for document dedup).

    Plan shape: project shingles+signature (no shuffle) into a signature
    frame pinned once -> explode bands -> groupBy on (band, key) carrying
    ids only (shuffle keyed by band-bucket, NOT all-pairs; ~num_bands x
    18 B per document) -> distinct (id_a, id_b) pairs (ids-only hash
    aggregate) -> join each side back to the pinned frame's hash set ->
    exact-Jaccard verify. Banding and verify read the one materialization,
    so the shingle/signature kernel executes once; the hash set crosses
    the network at most once per verified side instead of once per band
    (AQE broadcasts the sets when they are small and sort-merge-joins
    them at scale). ``id_col`` must be unique.
    The band keys (:func:`_bands`), the in-bucket pair expansion
    (:func:`_bucket_pairs`) and the verify projection
    (:func:`_jaccard_sql`) are composed as SQL text with SQL lambdas: one
    parse per projection, where ``Column`` lambdas cost py4j round
    trips for every operator inside them.
    With b bands of r rows the candidate recall at similarity s is
    1-(1-s^r)^b — 32 bands x 4 rows catches s>=0.7 with >99.9% probability;
    :func:`lsh_plan` picks (num_hashes, num_bands) for a target
    threshold/recall/hash budget instead of hand-tuning.
    Buckets larger than ``max_bucket_size`` are dropped (see
    :func:`cap_buckets`) — run :func:`exact_dedup` first so identical-text
    clusters never reach the LSH stage.

    Shingling, hashing and signing happen in ONE Arrow-vectorized pass
    (:func:`..functions.vectors.minhash_signature_np` — shingle strings
    never materialize in the plan, and the hash set never makes a
    second trip to Python: the signature is a numpy multiply-shift
    rehash over the in-memory hash list), and the exact-Jaccard verify
    runs on the 64-bit hash arrays (codegen ``array_intersect``).
    A pure-expression form measured ~4x slower: higher-order-function
    expressions evaluate INTERPRETED, so building ~70 shingle strings
    and 64 hash minima per doc as expression trees dominated the whole
    pipeline.

    ``hash_family='md5'`` swaps the shingle hash and the signature
    for the engine-portable md5 family
    (:func:`..functions.vectors.minhash_signature_np`) so a DuckDB
    oracle can replay the ENTIRE pipeline — signature, banding, bucket
    cap, candidate pairs, exact-jaccard verify — value-for-value
    (dq_minhash_pairs). Banding/verify code is byte-identical across
    families; only the hashing inside the one kernel differs. md5 costs
    ~num_hashes digests per shingle: bound the input (the entry uses a
    fixed 500-doc subset) and keep blake2b for production corpora.

    ``signatures=`` (r16) injects a prebuilt :func:`minhash_signatures`
    frame; callers that run several BAND configurations over the same
    corpus (the dq_neardup_recall harness) pay the shingle+signature
    kernels once instead of once per configuration. Results are
    bit-identical: bands are literal slices of the injected signature.
    A frame whose ``_sig`` width (stamped in its column metadata by
    ``minhash_signatures``) is not ``num_hashes`` raises ValueError.
    An injected frame is read as given — banding and verify are two
    consumers of it, so pin it (``plans.cache.pin``) before the call.

    The signature frame this call builds is pinned with
    ``MEMORY_AND_DISK`` (plans/cache.py contract) until
    ``spark.catalog.clearCache()`` or session end.
    """
    if hash_family not in ("blake2b", "md5"):
        raise ValueError(
            f"minhash_near_dup_pairs: hash_family must be 'blake2b' or "
            f"'md5', got {hash_family!r}"
        )
    if num_hashes % num_bands:
        # a remainder silently drops hashes from every signature: the
        # user computed a recall curve for num_hashes but is running
        # bands*floor(num_hashes/num_bands) — refuse instead
        raise ValueError(
            f"minhash_near_dup_pairs: num_hashes={num_hashes} must be "
            f"divisible by num_bands={num_bands} (use lsh_plan to pick "
            "a consistent configuration)"
        )
    from ..plans.cache import pin

    rows_per_band = num_hashes // num_bands
    if signatures is not None:
        # sig-injection (r16): a prebuilt minhash_signatures frame —
        # only the banding below differs between sharing callers, so
        # the kernel cost is paid once. The frame must carry the full
        # num_hashes-wide signature this call bands over, as stamped in
        # its _sig metadata by minhash_signatures.
        missing = {"_id", "_h", "_sig"} - set(signatures.columns)
        if missing:
            raise ValueError(
                f"minhash_near_dup_pairs: signatures frame is missing "
                f"columns {sorted(missing)} — build it with "
                "minhash_signatures"
            )
        width = signatures.schema["_sig"].metadata.get("num_hashes")
        if width != num_hashes:
            # bands sliced past a narrower signature come out short or
            # empty: recall would drop with no error
            raise ValueError(
                f"minhash_near_dup_pairs: signatures frame carries "
                f"{'unknown-width' if width is None else f'{width}-hash'} "
                f"signatures, the call bands {num_hashes} hashes — build it "
                "with minhash_signatures(num_hashes=...) to match"
            )
        base = signatures
    else:
        base = minhash_signatures(
            df, text_col, id_col,
            num_hashes=num_hashes, shingle_n=shingle_n, shingle=shingle,
            seed=seed, hash_family=hash_family,
        )

    # Ids-only banding: the bucket shuffle carries (_id, _band, _key),
    # ~18 B per (doc, band), never the hash set. The distinct candidate
    # pairs join back to the signature frame once per side for the
    # exact-Jaccard verify; the frame this call builds is pinned, so
    # banding and verify read ONE materialization and the shingle
    # kernel still runs once. An injected frame is the caller's to pin.
    if signatures is None:
        base = pin(base)
    buckets = base.selectExpr(
        "_id", f"explode({_bands('_sig', num_bands, rows_per_band)}) AS _b"
    ).selectExpr("_id", "_b.band AS _band", "_b.key AS _key")
    candidates = _bucket_pairs(
        buckets, ["_band", "_key"], max_bucket_size=max_bucket_size
    )
    return (
        candidates.join(base.selectExpr("_id AS id_a", "_h AS _pa"), "id_a")
        .join(base.selectExpr("_id AS id_b", "_h AS _pb"), "id_b")
        .selectExpr(
            "id_a", "id_b",
            f"round({_jaccard_sql('_pa', '_pb')}, {DIGITS}) AS jaccard",
        )
        .filter(f"jaccard >= {sql_literal(threshold)}")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    connected: bool = False,
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates.

    Default: greedy min-id survivor — drop every id that appears as the
    larger member of a pair. Deterministic and single-pass, but a star
    {1~3, 2~3} keeps both 1 and 2. ``connected=True`` resolves full
    clusters first (:func:`dedup_components`, iterative label propagation)
    and keeps exactly one survivor (the min id) per connected component —
    the correct semantics for transitive near-dup chains, at the cost of
    O(diameter) extra rounds.
    """
    pairs = minhash_near_dup_pairs(df, text_col, id_col, **kwargs)
    if connected:
        comp = dedup_components(pairs)
        losers = (
            comp.filter(F.col("component") != F.col("id"))
            .select(F.col("id").alias(id_col))
            .distinct()
        )
    else:
        # a semi join of the input's ids, not pairs.distinct(): its
        # static size estimate is the input's, where the verified pairs
        # carry their join's product estimate (curate_corpus does the
        # same for its near-dup drop list)
        losers = df.select(id_col).join(
            pairs.select(F.col("id_b").alias(id_col)), id_col, "left_semi"
        )
    return df.join(losers, on=id_col, how="anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    seed: int = 42,
    hash_family: str = "blake2b",
) -> DataFrame:
    """``(_id, _sh)`` SimHash signature frame, exactly as
    :func:`simhash_near_dup_pairs` builds internally. Build once and
    share via its ``signatures=`` knob when several BAND configurations
    (or an exact-hamming ground truth, dq_neardup_recall's shape) read
    the same signatures — the banding is a bit-slice of ``_sh``, so
    results are bit-identical."""
    from ..functions.vectors import simhash_np
    from ..plans.parallelism import ensure_min_partitions

    df = ensure_min_partitions(df)
    return df.select(
        F.col(id_col).alias("_id"),
        simhash_np(seed, hash_family)(F.col(text_col)).alias("_sh"),
    ).filter(F.col("_sh").isNotNull())


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 3,
    num_bands: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    allow_probabilistic: bool = False,
    hash_family: str = "blake2b",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates from 16-bit band buckets
    (a pair within hamming<=3 of 64 bits shares at least one of 4 bands by
    pigeonhole), verified by exact hamming distance. Oversized buckets are
    dropped per :func:`_bucket_pairs`. The simhash is one Arrow pass
    (:func:`..functions.vectors.simhash_np`).

    The pigeonhole recall GUARANTEE holds only while ``num_bands >=
    max_hamming + 1``. Configs beyond that (e.g. the registry's
    ``max_hamming=8`` with 4 bands) are probabilistic — candidate
    recall depends on how the differing bits distribute across bands —
    and must say so with ``allow_probabilistic=True``; pair such
    configs with a measured floor (dq_neardup_recall's pattern) rather
    than assuming completeness. Without the flag the call refuses
    loudly instead of silently losing pairs.

    ``hash_family='md5'`` swaps the token hash for
    the engine-portable md5 family so a DuckDB oracle can replay the
    whole simhash→banding→cap→hamming pipeline value-for-value
    (dq_simhash_pairs); banding/verify code is shared across families.
    """
    if hash_family not in ("blake2b", "md5"):
        raise ValueError(
            f"simhash_near_dup_pairs: hash_family must be 'blake2b' or "
            f"'md5', got {hash_family!r}"
        )
    if num_bands <= max_hamming and not allow_probabilistic:
        raise ValueError(
            f"simhash_near_dup_pairs: num_bands={num_bands} cannot "
            f"guarantee recall at max_hamming={max_hamming}; need "
            f"num_bands >= max_hamming + 1, or pass "
            f"allow_probabilistic=True and certify recall with a "
            f"measured floor"
        )
    if 64 % num_bands:
        raise ValueError(
            f"simhash_near_dup_pairs: num_bands={num_bands} must divide "
            "64 — a remainder leaves high bits outside every band, "
            "weakening the bucketing for no recall benefit"
        )
    bits_per_band = 64 // num_bands
    if signatures is not None:
        missing = {"_id", "_sh"} - set(signatures.columns)
        if missing:
            raise ValueError(
                f"simhash_near_dup_pairs: signatures frame is missing "
                f"columns {sorted(missing)} — build it with "
                "simhash_signatures"
            )
        base = signatures
    else:
        base = simhash_signatures(
            df, text_col, id_col,
            seed=seed, hash_family=hash_family,
        )

    mask = (1 << bits_per_band) - 1
    buckets = base.select(
        "_id",
        "_sh",
        F.explode(
            # Python loop over band indices: shiftrightunsigned's numBits is
            # int-only, so the shift amount must be a plan-time constant.
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.shiftrightunsigned(F.col("_sh"), b * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", "_sh", F.col("_b.band").alias("_band"), F.col("_b.key").alias("_key"))
    # simhash payload is one long: ride it through the pair expansion so
    # the verify step needs no join back at all.
    pairs = _bucket_pairs(
        buckets, ["_band", "_key"], payload_col="_sh",
        max_bucket_size=max_bucket_size,
    )
    return (
        pairs.withColumn("hamming", hamming64(F.col("_pa"), F.col("_pb")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, blocked)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
    use_lsh_blocking: bool = True,
    **lsh_kwargs,
) -> DataFrame:
    """Exact n-gram Jaccard pairs >= threshold.

    With ``use_lsh_blocking`` (default) candidates come from MinHash bands
    (scale path). Without it, a full O(n²) self-join — ONLY for tiny
    inputs or oracle verification; guarded by an explicit opt-out so the
    quadratic plan can't ship by accident.
    """
    if use_lsh_blocking:
        return minhash_near_dup_pairs(
            df, text_col, id_col, shingle_n=shingle_n, threshold=threshold, **lsh_kwargs
        )
    # Distinct sets and their sizes are computed once per DOC in the
    # projection below the join; the per-PAIR work is then exactly one
    # array_intersect (|A∪B| = |A|+|B|−|A∩B|). The nested loop streams
    # the left side's own partitions — spread a single-split input so
    # the O(n²) intersects don't serialize onto one task (r15).
    from ..plans.parallelism import ensure_min_partitions

    df = ensure_min_partitions(df)
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(char_ngrams(text_col, shingle_n)).alias("_sh"),
    ).withColumn("_n", F.size("_sh"))
    l, r = sh.alias("l"), sh.alias("r")
    jac = _let(
        F.size(F.array_intersect(F.col("l._sh"), F.col("r._sh"))),
        lambda i: F.try_divide(
            i.cast("double"), F.col("l._n") + F.col("r._n") - i
        ),
    )
    return (
        l.join(r, F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.round(jac, DIGITS).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def _explode_hyperplane_buckets(
    df: DataFrame,
    vec_col: str,
    tables: list[list[list[float]]],
    sequential: bool,
    keep_cols: list[str],
) -> DataFrame:
    """(keep_cols..., _t, _k): one row per (row, LSH table).
    ``sequential`` picks the dim-sequential kernel
    (:func:`..functions.vectors.hyperplane_keys_seq_np`), whose sign bits
    a DuckDB oracle replays value-for-value — the md5-plane
    certification faces use it. Otherwise the batched matrix multiply
    (:func:`..functions.vectors.hyperplane_keys_np`), the production
    path."""
    from ..functions.vectors import hyperplane_keys_np, hyperplane_keys_seq_np

    kernel = hyperplane_keys_seq_np if sequential else hyperplane_keys_np
    return df.select(
        *keep_cols, F.posexplode(kernel(tables)(F.col(vec_col))).alias("_t", "_k")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    threshold: float = 0.95,
    num_planes: int = 16,
    num_tables: int = 4,
    seed: int = 42,
    brute_force: bool = False,
    dim: int | None = None,
    max_bucket_size: int | None = 1000,
    planes: str = "rng",
) -> DataFrame:
    """Pairs with cosine similarity >= threshold.

    Scale path (default): random-hyperplane LSH — ``num_tables`` bucket
    tables of ``num_planes`` sign bits each; same-bucket pairs get exact
    cosine verification. High-cosine pairs collide with probability
    (1 - theta/pi)^planes per table. ``brute_force=True`` is the O(n²)
    oracle path for small inputs.

    Pass ``dim`` (embedding width) so plan construction stays action-free;
    without it a one-row probe job runs (:func:`..functions.vectors.vector_dim`).

    ``planes='md5'`` draws the hyperplanes via md5 Box–Muller
    (:func:`..functions.vectors.md5_hyperplanes`) instead of
    ``random.Random`` — same gaussian geometry, but every weight is
    reproducible in SQL, which lets a DuckDB oracle replay the whole
    bucketing+verify pipeline (dq_embedding_pairs_lsh). md5 planes key
    with the dim-sequential kernel, so the sign-bit dot products
    accumulate in the oracle's order; ``'rng'`` planes key with the
    batched matrix multiply. A vector whose length is not ``dim`` lands
    in no bucket under ``'rng'``; under ``'md5'`` it keys 0 in every
    table, as in the oracle (see
    :func:`..functions.vectors.hyperplane_keys_seq_np`).
    """
    from ..functions.vectors import cosine_similarity, vector_dim

    if planes not in ("rng", "md5"):
        raise ValueError(
            f"embedding_near_dup_pairs: planes must be 'rng' or 'md5', "
            f"got {planes!r}"
        )
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))

    if brute_force:
        from ..functions.vectors import dot, norm
        from ..plans.parallelism import ensure_min_partitions

        # the O(n²) pair scan streams the LEFT side's own partitions — a
        # single-file corpus would run every interpreted dot on ONE task
        # (no-op when the scan already has real parallelism, r15)
        base = ensure_min_partitions(base)
        # norms once per vector, not per pair — identical IEEE expression,
        # one interpreted array-aggregate per pair instead of three
        nb = base.withColumn("_n", norm(F.col("_v")))
        l, r = nb.alias("l"), nb.alias("r")
        return (
            l.join(r, F.col("l._id") < F.col("r._id"))
            .select(
                F.col("l._id").alias("id_a"),
                F.col("r._id").alias("id_b"),
                F.round(
                    F.when(
                        F.col("l._n") * F.col("r._n") > 0,
                        dot(F.col("l._v"), F.col("r._v"))
                        / (F.col("l._n") * F.col("r._n")),
                    ),
                    DIGITS,
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )

    dim = vector_dim(df, vec_col, dim)
    if dim is None:  # empty / all-null input: empty result, same schema
        return base.limit(0).select(
            F.col("_id").alias("id_a"),
            F.col("_id").alias("id_b"),
            F.lit(0.0).alias("cosine"),
        )
    if planes == "md5":
        from ..functions.vectors import md5_hyperplanes

        tables = md5_hyperplanes(num_tables, num_planes, dim, seed)
    else:
        import random

        rnd = random.Random(seed)
        # Fixed random hyperplanes as plan literals (driver-side,
        # deterministic).
        tables = [
            [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(num_planes)]
            for _ in range(num_tables)
        ]

    # no ensure_min_partitions: the hyperplane kernels run one batched
    # pass per Arrow batch, measured cheaper on few partitions than
    # paying the repartition shuffle of the vectors
    buckets = _explode_hyperplane_buckets(
        base, "_v", tables, planes == "md5", ["_id", "_v"]
    )
    # vectors ride through the pair expansion as payloads (dim*8 bytes per
    # member, bounded by max_bucket_size) — exact-cosine verify without a
    # join back to the corpus.
    pairs = _bucket_pairs(
        buckets, ["_t", "_k"], payload_col="_v", max_bucket_size=max_bucket_size
    )
    return (
        pairs.withColumn(
            "cosine",
            F.round(cosine_similarity(F.col("_pa"), F.col("_pb")), DIGITS),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs (cluster-true dedup)
# ---------------------------------------------------------------------------


def dedup_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) for every id appearing in the pair list, where
    ``component`` is the MINIMUM id of its connected near-dup cluster.

    Iterative min-label propagation WITH ADAPTIVE POINTER JUMPING: each
    round every vertex adopts the smallest label among itself and its
    neighbors (one edge join + one groupBy shuffle); from round 3 on —
    i.e. only when the graph is NOT the common shallow-cluster case —
    each vertex additionally shortcuts its label to its label's own
    label (one label self-join; labels are always vertex ids of the
    same component, so the composition is safe). The shortcut makes
    label-pointer chains collapse geometrically, so a chain-shaped
    cluster of diameter d converges in O(log d) rounds instead of
    O(d) — the same logarithmic bound as the large-star/small-star
    formulation (Kiveris et al. 2014 / Rastogi et al. ICDE'13
    hash-to-min), obtained as one extra vertex-keyed join per late
    round rather than a rewrite of the edge set, and costing shallow
    near-dup graphs (diameter <= 2, the overwhelming case) nothing. At
    the default ``max_iter=20`` that covers diameters beyond 2^15, so
    the previous silent-split risk on pathological chains is gone (the
    warning remains as a backstop). The loop is driver-coordinated with
    ONE action per round (r16): the previous label rides the
    propagation aggregate, so the convergence count doubles as the
    ``localCheckpoint`` materialization instead of a separate
    new-vs-old join — the standard Spark shape for iterative graph
    algorithms, minus one job per round.
    """
    if max_iter < 1:
        raise ValueError(f"dedup_components: max_iter must be >= 1, got {max_iter}")
    # The pair-generation plan is optimized with the session's normal
    # settings (edges materializes HERE, before the conf swap below).
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("lbl", F.col("v"))
        .localCheckpoint()
    )
    spark = pairs.sparkSession
    # Constraint propagation must be off for the label loop: the jump
    # rounds self-join a checkpointed plan whose preserved attribute ids
    # trip the optimizer's Union constraint rewrite
    # (UnionBase.rewriteConstraints: "key not found: <attr>") when
    # upstream constraints reference pruned attributes. The loop joins
    # only checkpointed leaves and has no filters for constraints to
    # improve, so turning it off here costs nothing. _constraints_off is
    # refcounted per session: concurrent loops run in parallel and the
    # conf is restored when the last one exits.
    with _constraints_off(spark):
        return _dedup_components_loop(edges, labels, max_iter)


def _dedup_components_loop(
    edges: DataFrame, labels: DataFrame, max_iter: int
) -> DataFrame:
    # Near-dup clusters are overwhelmingly shallow (diameter <= 2-3),
    # so the first _PLAIN_ROUNDS rounds run bare min-propagation — the
    # jump's extra self-join + materialization would be pure overhead
    # there. If the graph hasn't converged by then (a chain-shaped
    # cluster), pointer jumping kicks in and the remaining distance
    # collapses geometrically.
    #
    # r16 (one action per round, guide §2/§5): the previous label rides
    # the propagation aggregate as ``_old`` (the labels branch of the
    # union is the only one tagging it, exactly one non-NULL per
    # vertex), so the convergence count is a filter over the SAME frame
    # instead of a separate new-vs-old shuffle join — and with a LAZY
    # localCheckpoint that count is the action that materializes the
    # round's checkpoint blocks. Per round: 1 job, not 2-3.
    _PLAIN_ROUNDS = 3
    lbl_t = labels.schema["lbl"].dataType
    for i in range(max_iter):
        nbr = edges.join(
            labels.select(F.col("v").alias("dst"), F.col("lbl")), "dst"
        ).select(F.col("src").alias("v"), "lbl")
        prop = (
            labels.select("v", "lbl", F.col("lbl").alias("_old"))
            .union(nbr.select("v", "lbl", F.lit(None).cast(lbl_t)))
            .groupBy("v")
            .agg(F.min("lbl").alias("lbl"), F.max("_old").alias("_old"))
        )
        if i < _PLAIN_ROUNDS:
            flagged = prop
        else:
            # checkpoint BEFORE the self-join: joining a plan containing
            # this union onto itself trips Catalyst's Union constraint
            # rewrite (duplicate attribute ids); the checkpoint makes
            # prop a leaf relation, which self-joins cleanly — and it
            # truncates the per-round lineage anyway. Lazy: the round's
            # single count action below materializes it.
            prop = prop.localCheckpoint(eager=False)
            # pointer jumping: lbl := lbl(lbl). Every label is the id of
            # a vertex in the same component (invariant from
            # initialization + min-folding), so composing through the
            # label's own label stays in-component while halving
            # pointer-chain depth each round.
            flagged = (
                prop.alias("p")
                .join(
                    prop.select(
                        F.col("v").alias("_lv"), F.col("lbl").alias("_llbl")
                    ),
                    F.col("p.lbl") == F.col("_lv"),
                    "left",
                )
                .select(
                    F.col("p.v").alias("v"),
                    F.least(
                        F.col("p.lbl"), F.coalesce("_llbl", F.col("p.lbl"))
                    ).alias("lbl"),
                    F.col("p._old").alias("_old"),
                )
            )
        new_labels = flagged.withColumn(
            "_chg", F.col("lbl") != F.col("_old")
        ).localCheckpoint(eager=False)
        # the ONE action of the round: materializes the checkpoint and
        # returns the convergence count off the same blocks
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.select("v", "lbl")
        if changed == 0:
            break
    else:
        import warnings

        warnings.warn(
            f"dedup_components: label propagation did not converge in "
            f"{max_iter} rounds ({changed} labels still changing) — a "
            f"cluster with diameter > max_iter is reported as multiple "
            f"components; raise max_iter for chain-shaped duplicates",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("v").alias("id"), F.col("lbl").alias("component"))


def set_similarity_join(
    df: DataFrame,
    set_col: str,
    id_col: str,
    *,
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT set-similarity self-join (AllPairs/PPJoin prefix filtering,
    Bayardo et al. WWW'07): all pairs with Jaccard >= ``threshold`` over
    an ``array`` column, without the O(n²) comparison AND without the
    MinHash recall loss — the exact counterpart to
    :func:`minhash_near_dup_pairs` for when every pair must be found.

    Completeness argument: for distinct sets with ``J(A,B) >= t``, the
    size filter ``t*|A| <= |B| <= |A|/t`` holds, and the overlap is at
    least ``ceil(t*max(|A|,|B|))``; therefore the globally-ordered
    (rarest-token-first) prefixes of length ``|X| - ceil(t*|X|) + 1``
    must intersect — so each set posts ONLY its prefix tokens to the
    join index, hot tokens index almost nothing, and a full
    ``jaccard`` verify on the candidates yields exactly the true pair
    set. Empty sets never pair (Jaccard undefined/0).

    Scale shape mirrors :mod:`.fuzzy`: one token-frequency agg, one
    rank-filtered index self-join, one candidate dedup + verify. Sets
    ride the index as payloads — right for token sets (documents
    become ~10² tokens), and what keeps verify join-free.

    Output: (id_a, id_b, jaccard), id_a < id_b.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"set_similarity_join: threshold in (0, 1], got {threshold}"
        )
    t = float(threshold)
    # no ensure_min_partitions here (r15-opt adjudication): the op's own
    # token-frequency agg and prefix-index join already redistribute,
    # and a round-robin spread of the heavy set arrays measured SLOWER
    # (2.2 -> 2.6-4.0 s interleaved A/B at sf0.1)
    base = (
        df.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(F.col(set_col)).alias("_set"),
        )
        .withColumn("_sz", F.size("_set"))
        .filter(F.col("_sz") > 0)
    )
    toks = base.select(
        "_id", "_set", "_sz", F.explode("_set").alias("_tok")
    )
    freq = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_f"))
    prefix_len = F.col("_sz") - F.ceil(F.lit(t) * F.col("_sz")) + 1
    idx = (
        toks.join(freq, "_tok")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_id").orderBy(F.col("_f"), F.col("_tok"))
            ),
        )
        .filter(F.col("_rn") <= prefix_len)
        .select("_id", "_set", "_sz", "_tok")
    )
    a, b = idx.alias("a"), idx.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a._tok") == F.col("b._tok"))
            & (F.col("a._id") < F.col("b._id"))
            # size filter both ways: t*|A| <= |B| <= |A|/t
            & (F.col("b._sz") * F.lit(t) <= F.col("a._sz"))
            & (F.col("a._sz") * F.lit(t) <= F.col("b._sz")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._set").alias("_sa"),
            F.col("b._set").alias("_sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cands.selectExpr(
            "id_a", "id_b",
            f"round({_jaccard_sql('_sa', '_sb')}, {DIGITS}) AS jaccard",
        )
        .filter(f"jaccard >= {sql_literal(t)}")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster embeddings, dedup within clusters
# ---------------------------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    threshold: float = 0.95,
    num_clusters: int = 64,
    sample_size: int = 4096,
    iters: int = 5,
    seed: int = 42,
    max_cluster_size: int | None = 1000,
    mode: str = "pairs",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    every embedding to its nearest k-means centroid, then find high-cosine
    pairs WITHIN each cluster only — the quadratic work shrinks from n²
    to sum(cluster²), and clusters are sized by ``num_clusters``.

    Deliberately approximate the same way SemDeDup is: near-duplicates
    that straddle a cluster boundary are missed (raise ``num_clusters``
    with corpus size to keep clusters small; the paper uses 50k clusters
    for LAION). Rows with null/empty vectors are never paired and always
    survive.

    Plan: one tiny driver action trains the quantizer on a deterministic
    hash-ordered sample (:func:`..operators.similarity.train_ivf_centroids`
    — the centroids become plan literals); assignment is one batched-
    matmul Arrow pass; within-cluster pairs expand via the capped
    one-groupBy bucket expansion (:func:`_bucket_pairs`) with vectors as
    payloads; exact cosine verifies every candidate.

    ``mode='pairs'``: (id_a, id_b, cosine). ``mode='survivors'``: the
    input rows minus the greater id of every qualifying pair (greedy
    min-id survivor, matching the curation pipeline's near-dup rule).
    """
    from ..functions.vectors import cosine_similarity
    from .similarity import _nearest_centroids_np, train_ivf_centroids

    if mode not in ("pairs", "survivors"):
        raise ValueError(f"semantic_dedup: unknown mode {mode!r}")
    try:
        centroids = train_ivf_centroids(
            df,
            id_col=id_col,
            vec_col=vec_col,
            num_centroids=num_clusters,
            sample_size=sample_size,
            iters=iters,
            seed=seed,
        )
    except ValueError:
        # empty / all-null corpus: nothing to cluster, nothing deduped
        if mode == "survivors":
            return df
        base = df.select(F.col(id_col).alias("_id"))
        return base.limit(0).select(
            F.col("_id").alias("id_a"),
            F.col("_id").alias("id_b"),
            F.lit(0.0).alias("cosine"),
        )
    assign1 = _nearest_centroids_np(centroids, 1)
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    clustered = base.filter(
        F.col("_v").isNotNull() & (F.size("_v") > 0)
    ).withColumn("_c", F.element_at(assign1(F.col("_v")), 1))

    pairs = (
        _bucket_pairs(
            clustered,
            ["_c"],
            payload_col="_v",
            max_bucket_size=max_cluster_size,
        )
        .withColumn(
            "cosine",
            F.round(cosine_similarity(F.col("_pa"), F.col("_pb")), DIGITS),
        )
        .filter(F.col("cosine") >= threshold)
    )
    if mode == "pairs":
        return pairs.select("id_a", "id_b", "cosine")
    drops = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(drops, id_col, "anti")


# ---------------------------------------------------------------------------
# Segment-level exact dedup (Lee et al. 2021, "Deduplicating Training Data
# Makes Language Models Better"): duplication below document granularity.
# Whole-document dedup misses boilerplate — headers, license blurbs,
# navigation text — repeated across otherwise-distinct documents. Splitting
# each document into fixed-width token segments and deduplicating THOSE
# surfaces (and can strip) the repeated spans.
# ---------------------------------------------------------------------------


def _segments(text_col: str, k: int) -> Column:
    """array<string> of consecutive non-overlapping ``k``-token segments of
    the normalized text; the incomplete tail segment is dropped so segment
    identity is width-invariant (a 7-token tail is not comparable to a
    7-token tail elsewhere). Pure expressions — sequence+slice, no UDF;
    the token array is let-bound so the tokenizer runs once per row, not
    once per segment (interpreted HOF lambdas have no CSE)."""
    return _let(
        tokenize(text_col),
        lambda toks: _let(
            F.floor(F.size(toks) / k).cast("int"),
            lambda n_full: F.when(
                n_full > 0,
                F.transform(
                    F.sequence(F.lit(0), n_full - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(toks, i * k + 1, k)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
    )


def segment_dedup_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Per-document duplicated-segment ratio: how much of each document is
    made of ``k``-token segments that also appear in >= ``min_df`` distinct
    documents (cross-document boilerplate). The planning view before a
    :func:`strip_duplicate_segments` run.

    Output: (id, n_segments, n_dup_segments, dup_segment_ratio), one row
    per document that has at least one full segment.

    Scale shape: explode to (doc, segment-hash) — the shuffle carries
    64-bit hashes, never segment text; document frequency is ONE groupBy
    over hashes (count distinct doc per hash, map-side combined); the join
    back is hash-keyed. Cost ~ O(total tokens), same as any tokenizing
    profile pass; no pair expansion anywhere.
    """
    segs = df.select(
        F.col(id_col),
        F.explode(_segments(text_col, k)).alias("_seg"),
    ).select(id_col, F.xxhash64("_seg").alias("_h"))
    dfreq = segs.groupBy("_h").agg(
        F.count_distinct(id_col).alias("_df")
    )
    return (
        segs.join(dfreq, "_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("_df") >= min_df).cast("long")).alias(
                "n_dup_segments"
            ),
        )
        .withColumn(
            "dup_segment_ratio",
            F.round(F.col("n_dup_segments") / F.col("n_segments"), DIGITS),
        )
        .orderBy(id_col)
    )


def strip_duplicate_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Rebuild each document WITHOUT its cross-document duplicated
    segments — the remediation for :func:`segment_dedup_profile`'s
    diagnosis. Every full ``k``-token segment whose document frequency is
    >= ``min_df`` is removed; unique segments are re-joined in their
    original order into ``<text_col>_dedup`` (the incomplete tail is
    preserved verbatim: it was never eligible for dedup).

    Shape: posexplode keeps each segment's position; the duplicate-hash
    set comes from the same hash-only groupBy as the profile; surviving
    segments re-assemble per document with ONE groupBy (sort by position
    inside the array, no window). The reconstructed text rides the
    aggregate, so document bodies shuffle exactly once.
    """
    segs = df.select(
        F.col(id_col),
        F.posexplode(_segments(text_col, k)).alias("_pos", "_seg"),
    ).withColumn("_h", F.xxhash64("_seg"))
    dup_hashes = (
        segs.groupBy("_h")
        .agg(F.count_distinct(id_col).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("_h")
    )
    kept = (
        segs.join(dup_hashes, "_h", "anti")
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_seg"))
                    ),
                    lambda s: s["_seg"],
                ),
            ).alias("_kept")
        )
    )
    tail = _let(
        tokenize(text_col),
        lambda toks: _let(
            F.floor(F.size(toks) / k).cast("int") * k,
            lambda n_full_toks: F.when(
                F.size(toks) > n_full_toks,
                F.concat_ws(
                    " ",
                    F.slice(
                        toks,
                        n_full_toks + 1,
                        F.size(toks) - n_full_toks,
                    ),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return (
        df.join(kept, id_col, "left")
        .withColumn(
            f"{text_col}_dedup",
            F.trim(
                F.concat_ws(
                    " ", F.coalesce(F.col("_kept"), F.lit("")), tail
                )
            ),
        )
        .drop("_kept")
    )


def top_duplicate_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 8,
    top: int = 20,
    min_df: int = 2,
) -> DataFrame:
    """THE boilerplate catalog: the ``top`` most widely shared ``k``-token
    segments, with document frequency and an example document id — what a
    curator reads before deciding ``min_df`` for
    :func:`strip_duplicate_segments`.

    Ordered by (df desc, segment asc) for a total, engine-stable order.
    The aggregation carries segment TEXT (needed for the report), but
    only |distinct segments above min_df| rows ever rank; the top-N cut
    uses one TakeOrdered-style limit after a keyed agg, no window.
    """
    segs = df.select(
        F.col(id_col), F.explode(_segments(text_col, k)).alias("segment")
    )
    return (
        segs.groupBy("segment")
        .agg(
            F.count_distinct(id_col).alias("df"),
            F.min(id_col).alias("example_id"),
        )
        .filter(F.col("df") >= min_df)
        .orderBy(F.col("df").desc(), F.col("segment").asc())
        .limit(top)
    )


def near_dup_eval(
    approx_pairs: DataFrame,
    exact_pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Precision/recall of an approximate near-dup pair set against the
    exact ground truth — the tuning harness for ``num_bands`` /
    ``max_bucket_size`` / thresholds, run on a sampled slice BEFORE
    committing an LSH config to the full corpus.

    Pairs are canonicalized (min, max) so orientation never miscounts.
    One row: (n_approx, n_exact, n_hit, precision, recall, f1), the
    ratios rounded on the driver exactly as ``F.round`` would. Shape:
    ONE job — two pair-set distincts feeding one null-safe full-outer
    join on the (a, b) spine, folded by a single 1-row aggregate. (The
    previous three-count shape re-ran the approximate PAIR GENERATION
    once per count; with four configs in dq_neardup_recall that tripled
    the harness cost.)
    """
    def canon(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.select(
                F.least(F.col(id_a), F.col(id_b)).alias("a"),
                F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
            )
            .distinct()
            .withColumn(tag, F.lit(True))
        )

    ap = canon(approx_pairs, "_in_ap")
    ex = canon(exact_pairs, "_in_ex")
    counts = (
        ap.join(ex, ["a", "b"], "full_outer")
        .agg(
            F.count("_in_ap").alias("n_a"),
            F.count("_in_ex").alias("n_e"),
            F.count(F.when(F.col("_in_ap") & F.col("_in_ex"), 1)).alias("n_h"),
        )
        .first()
    )
    n_a, n_e, n_h = counts["n_a"], counts["n_e"], counts["n_h"]
    prec = n_h / n_a if n_a else None
    rec = n_h / n_e if n_e else None
    f1 = (
        2 * prec * rec / (prec + rec)
        if prec is not None and rec is not None and (prec + rec) > 0
        else None
    )
    ratios = [
        None if v is None else _round_value(v)
        for v in (prec, rec, f1)
    ]
    return local_frame(
        approx_pairs.sparkSession,
        [(n_a, n_e, n_h, *ratios)],
        "n_approx long, n_exact long, n_hit long, "
        "precision double, recall double, f1 double",
    )
