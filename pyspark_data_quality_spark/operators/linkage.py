"""Record linkage: probabilistic cross-table entity matching with
blocking — "is customer 17 in system A the same person as record 942 in
system B?" — the classic Fellegi–Sunter shape (public: Fellegi & Sunter
1969; the blocking + field-comparator decomposition every linkage
toolkit uses), rebuilt as pure Spark expressions.

Three stages, all declarative:

1. **Blocking**: candidate pairs come ONLY from an equi-join on cheap
   deterministic keys (zip, nation, phonetic bucket, ...). This is the
   scale lever — it turns O(|A|x|B|) into the sum of per-block
   products. The join is an ordinary shuffle (or broadcast) hash join,
   so AQE/bucketing/salting all apply; audit block sizes first with
   operators/join_audit.join_diagnosis, and route hot blocks through
   plans/skew.salted_join if one key dominates.
2. **Field comparators**: per-field similarities in [0, 1] as
   expression trees — ``exact`` (null-as-disagreement), ``levenshtein``
   (1 - dist/max_len; JVM builtin, no UDF), ``token_jaccard``
   (|A∩B|/|A∪B| over normalized token sets), ``numeric``
   (max(0, 1 - |a-b|/scale)). NULL on either side scores 0 — missing
   data is non-evidence, the conservative linkage convention.
3. **Scoring**: ``score`` = weight-normalized sum of similarities;
   pairs at or above ``threshold`` are kept (``keep_all=True`` returns
   every candidate pair with its score for threshold calibration).

Whole-stage codegen end to end: levenshtein/regexp/array ops are JVM
builtins; nothing leaves the JVM and the only shuffle is the blocking
join itself.

Reference parity: no cross-table matching surface in the reference
(src/pyspark_data_quality is single-table rules; its UniqueCheck is
exact-key only). Extension surface alongside fuzzy_match_pairs (the
single-table near-match self-join) and merge_duplicates (which consumes
matched clusters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expr import DIGITS

__all__ = ["field_similarity", "record_linkage"]

_METHODS = ("exact", "levenshtein", "token_jaccard", "numeric")


def _tokens(c: Column) -> Column:
    from ..functions.text import alnum_tokens

    return F.array_distinct(alnum_tokens(c))


def field_similarity(
    a: Column, b: Column, method: str, *, scale: float | None = None
) -> Column:
    """Similarity of one field pair in [0, 1] (NULL either side -> 0),
    as a pure expression — exposed for custom scoring layouts."""
    if method == "exact":
        sim = F.when(a.isNull() | b.isNull(), 0.0).otherwise(
            (a == b).cast("double")
        )
    elif method == "levenshtein":
        ml = F.greatest(F.length(a), F.length(b))
        sim = (
            F.when(a.isNull() | b.isNull(), 0.0)
            .when(ml == 0, 1.0)  # both empty: identical
            .otherwise(
                1.0 - F.levenshtein(a, b).cast("double") / ml
            )
        )
    elif method == "token_jaccard":
        ta, tb = _tokens(a), _tokens(b)
        inter = F.size(F.array_intersect(ta, tb)).cast("double")
        union = F.size(F.array_union(ta, tb))
        sim = F.when(a.isNull() | b.isNull(), 0.0).otherwise(
            F.coalesce(F.try_divide(inter, union), F.lit(1.0))
        )  # both token-empty strings: identical
    elif method == "numeric":
        if scale is None or scale <= 0:
            raise ValueError(
                "field_similarity: method 'numeric' needs scale > 0 "
                "(the difference that maps to similarity 0)"
            )
        sim = F.when(a.isNull() | b.isNull(), 0.0).otherwise(
            F.greatest(
                F.lit(0.0),
                1.0 - F.abs(a.cast("double") - b.cast("double")) / scale,
            )
        )
    else:
        raise ValueError(
            f"field_similarity: unknown method {method!r} "
            f"(supported: {', '.join(_METHODS)})"
        )
    return sim


def record_linkage(
    a: DataFrame,
    b: DataFrame,
    a_id: str,
    b_id: str,
    *,
    blocking: list[tuple[str, str]],
    comparators: list[dict],
    threshold: float = 0.8,
    keep_all: bool = False,
    broadcast: bool = False,
) -> DataFrame:
    """Match records across ``a`` and ``b``. ``blocking`` is a list of
    (a_col, b_col) equi-join keys; ``comparators`` a list of dicts with
    keys ``a``, ``b``, ``method`` (exact | levenshtein | token_jaccard
    | numeric), ``weight`` (default 1.0) and ``scale`` (numeric only).

    Output: one row per candidate pair at/above ``threshold`` (or all
    candidates with ``keep_all=True``) — ``a_id``/``b_id`` under their
    original names, one ``sim_<a-col>`` per comparator, ``score``,
    ``is_match``. ``broadcast=True`` ships the (deduplicated-by-you,
    dimension-sized) ``b`` side to every executor and removes the
    shuffle entirely.

    A NULL blocking key never forms candidates (equi-join semantics) —
    records with missing block keys are out of scope by design; widen
    the blocking list (multi-pass union) rather than null-matching.

    .. note:: **Renamed output columns (r12).** When two comparators
       share an a-column, the second one's similarity column is now the
       fully-qualified ``sim_<a>_<b>_<method>`` (previously the
       ambiguous ``sim_<a>_<method>``, whose meaning depended on
       comparator order). Consumers of the old b-less name must update
       their references; the name is order-stable going forward.
    """
    if not blocking:
        raise ValueError(
            "record_linkage: blocking is required — an unblocked "
            "linkage is the full cross product; pass at least one "
            "(a_col, b_col) key pair"
        )
    if not comparators:
        raise ValueError("record_linkage: comparators must be non-empty")
    if a_id == b_id:
        raise ValueError(
            f"record_linkage: a_id and b_id are both {a_id!r} — the "
            "output carries both under their original names; rename one "
            "side first (e.g. b.withColumnRenamed)"
        )
    # one similarity column per comparator: sim_<a-col>, falling back to
    # sim_<a-col>_<b-col>_<method> when the same source column is compared
    # twice (the standard multi-comparator Fellegi-Sunter layout). Duplication
    # is detected on the full (a-col, b-col, method) KEY, not the derived
    # name — a name-based check misses an exact repeat (two identical
    # {a:'x', b:'y', method:'exact'} entries would get sim_x / sim_x_exact
    # and silently double-weight that field in the score), while keying on
    # (a, method) alone would reject the legitimate config that compares
    # one a-column against two DIFFERENT b-columns with the same method
    # (a.name vs b.first_name and a.name vs b.last_name, both levenshtein).
    sim_names: list[str] = []
    seen_keys: set[tuple[str, str, str]] = set()
    for c in comparators:
        key = (c["a"], c["b"], c["method"])
        if key in seen_keys:
            raise ValueError(
                f"record_linkage: comparator (a={key[0]!r}, b={key[1]!r}, "
                f"method={key[2]!r}) appears twice — drop the duplicate "
                "or adjust its weight instead"
            )
        seen_keys.add(key)
        # name fallback chain: sim_<a> -> sim_<a>_<b>_<method> ->
        # sim_<a>_<method>. The FULLY QUALIFIED form comes second (r11
        # advice): comparators sharing (a, method) against different
        # b-columns are exactly the case where a bare sim_<a>_<method>
        # would be ambiguous — which b-column it refers to would depend
        # on comparator order. The b-less form survives only as the
        # defensive tail for underscore-pathological column names that
        # render two qualified names identical.
        for name in (
            f"sim_{c['a']}",
            f"sim_{c['a']}_{c['b']}_{c['method']}",
            f"sim_{c['a']}_{c['method']}",
        ):
            if name not in sim_names:
                break
        sim_names.append(name)
    if len(set(sim_names)) != len(sim_names):
        # defensive: a column literally named '<col>_<method>' colliding
        # with a disambiguated name (sim_x_exact vs column 'x_exact'),
        # or the full fallback chain exhausted by pathological repeats
        raise ValueError(
            f"record_linkage: derived similarity names collide: "
            f"{sim_names} — rename the conflicting input column or "
            "drop the comparator whose (a, b, method) renders the "
            "same name"
        )
    for side, df_, cols in (
        ("a", a, [a_id] + [p[0] for p in blocking]
         + [c["a"] for c in comparators]),
        ("b", b, [b_id] + [p[1] for p in blocking]
         + [c["b"] for c in comparators]),
    ):
        missing = [c for c in cols if c not in df_.columns]
        if missing:
            raise ValueError(
                f"record_linkage: columns {missing} not in side {side!r}"
            )
    weights = [float(c.get("weight", 1.0)) for c in comparators]
    if any(w <= 0 for w in weights):
        raise ValueError("record_linkage: weights must be > 0")

    # prefix-rename each side so self-linkage and shared schemas never
    # collide; only the needed columns survive into the join
    la = a.select(
        F.col(a_id).alias("_la_id"),
        *[F.col(p[0]).alias(f"_lbk{i}") for i, p in enumerate(blocking)],
        *[
            F.col(c["a"]).alias(f"_lac{i}")
            for i, c in enumerate(comparators)
        ],
    )
    rb = b.select(
        F.col(b_id).alias("_rb_id"),
        *[F.col(p[1]).alias(f"_rbk{i}") for i, p in enumerate(blocking)],
        *[
            F.col(c["b"]).alias(f"_rbc{i}")
            for i, c in enumerate(comparators)
        ],
    )
    if broadcast:
        rb = F.broadcast(rb)
    else:
        # Pin the blocking exchange (r15): a blocked linkage FANS OUT —
        # each key joins |block_a| x |block_b| comparator rows — but AQE
        # sizes post-shuffle partitions from the join's INPUT bytes, so
        # a few-MB input coalesces to 1-2 tasks that then run every
        # levenshtein single-threaded (measured 5.4s -> 1s at sf0.1).
        # The keyed repartition fires ONLY when the left input has
        # pathologically few partitions (the single-split fixture case,
        # same condition as plans/parallelism.ensure_min_partitions):
        # a real corpus has hundreds of splits, so at scale the join
        # keeps its own ENSURE_REQUIREMENTS exchange — AQE skew-join
        # splitting stays available and a small right side can still
        # auto-broadcast (r15-opt review).
        # Known residual (r16 ADVICE, accepted): when the distinct
        # blocking-key count is below n_shuffle the keyed exchange
        # leaves partitions empty — but any equi-join on those keys
        # co-locates them identically, so a round-robin fallback only
        # helps if the right side broadcasts, and measuring key
        # cardinality here would cost an eager aggregate per call.
        try:
            n_shuffle = int(
                a.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):  # e.g. "auto" on managed runtimes
            n_shuffle = a.sparkSession.sparkContext.defaultParallelism
        from ..plans.parallelism import _stream_partition_estimate

        try:
            est = _stream_partition_estimate(
                la._jdf.queryExecution().executedPlan()
            )
        except Exception:
            est = None
        if est and est * 2 <= n_shuffle:
            la = la.repartition(
                n_shuffle, *[F.col(f"_lbk{i}") for i in range(len(blocking))]
            )
    cond = None
    for i in range(len(blocking)):
        eq = F.col(f"_lbk{i}") == F.col(f"_rbk{i}")
        cond = eq if cond is None else (cond & eq)
    joined = la.join(rb, cond)

    sims = []
    for i, c in enumerate(comparators):
        sims.append(
            F.round(
                field_similarity(
                    F.col(f"_lac{i}"),
                    F.col(f"_rbc{i}"),
                    c["method"],
                    scale=c.get("scale"),
                ),
                DIGITS,
            ).alias(sim_names[i])
        )
    out = joined.select(
        F.col("_la_id").alias(a_id),
        F.col("_rb_id").alias(b_id),
        *sims,
    )
    total_w = sum(weights)
    score = None
    for name, w in zip(sim_names, weights):
        term = F.col(name) * (w / total_w)
        score = term if score is None else (score + term)
    out = out.withColumn("score", F.round(score, DIGITS)).withColumn(
        "is_match", F.col("score") >= threshold
    )
    if not keep_all:
        out = out.filter(F.col("is_match"))
    return out.orderBy(a_id, b_id)
