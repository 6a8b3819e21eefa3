"""Deterministic dataset splitting for training pipelines.

``randomSplit`` is the wrong tool for corpus curation: it samples per
task attempt (a retried partition can land rows in a different split),
and no other system can reproduce the assignment. The standard fix is
HASH-based assignment — split membership is a pure function of the row's
id (+ an optional salt), so it is stable across runs, engines, retries,
and repartitioning, and any downstream consumer can recompute it.

The hash is the first 8 hex chars of ``md5(id || salt)`` taken mod
10000 — md5 because every engine agrees on it byte-for-byte (the same
reason ``doc_md5`` uses it, functions/text.py), 10000 buckets so weights
have basis-point resolution. Pure expressions: the split column costs a
projection, no shuffle, no RNG.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.compile import ident, sql_literal

_BUCKETS = 10000


def _check_reserved(df: DataFrame, reserved: set[str], fn_name: str) -> None:
    """Internal temp columns are created and dropped by name; a user
    column with the same name would be silently overwritten and lost —
    refuse instead (same contract as bloom_probe's reserved check)."""
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"{fn_name}: df columns {sorted(clash)} collide with "
            "internal temporaries; rename them first"
        )


def _split_sql(id_sql: str, weights: dict[str, float], *, salt: str = "") -> str:
    """SQL text mapping the SQL expression ``id_sql`` to a split name per
    ``weights`` (need not sum to 1 — they are normalized): the md5 bucket
    of ``id || salt`` against the cumulative weight boundaries, one
    ``CASE`` branch per split but the last."""
    if not weights:
        raise ValueError("split_assignment: weights must be non-empty")
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("split_assignment: weights must sum > 0")
    # the first 8 hex chars of md5(id || salt) as an integer
    bucket = (
        f"CAST(conv(substring(md5(concat(CAST({id_sql} AS STRING), "
        f"{sql_literal(salt)})), 1, 8), 16, 10) AS BIGINT) % {_BUCKETS}"
    )
    names = list(weights)
    acc = 0.0
    branches = []
    for name in names[:-1]:
        acc += weights[name] / total
        bound = int(round(acc * _BUCKETS))
        branches.append(f"WHEN {bucket} < {bound} THEN {sql_literal(name)}")
    last = sql_literal(names[-1])
    return f"CASE {' '.join(branches)} ELSE {last} END" if branches else last


def split_assignment(
    id_col: str, weights: dict[str, float], *, salt: str = ""
) -> Column:
    """Column mapping the ids in column ``id_col`` to a split name per
    ``weights`` (need not sum to 1 — they are normalized): the
    :func:`_split_sql` text, parsed once."""
    return F.expr(_split_sql(ident(id_col), weights, salt=salt))


def deterministic_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    *,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning every row to a named split.

    Leakage-safe grouped splits need no extra operator: pass the GROUP
    key (url host, dedup cluster id, author, ...) as ``id_col`` and
    every row of a group hashes to the same split — the standard guard
    against near-duplicates straddling train/test (see
    ``operators/text.py split_leakage_audit`` for the after-the-fact
    check)."""
    return df.withColumn(
        split_col, split_assignment(id_col, weights, salt=salt)
    )


def deterministic_sample(
    df: DataFrame, id_col: str, fraction: float, *, salt: str = ""
) -> DataFrame:
    """Hash-bucket sample of ~``fraction`` of rows — same stability
    contract as :func:`deterministic_split` (a row is in or out as a pure
    function of its id + salt; re-running, repartitioning, or another
    engine reproduces the identical sample). Unlike ``df.sample``, which
    draws per task attempt."""
    if not (0.0 <= fraction <= 1.0):
        raise ValueError("deterministic_sample: fraction must be in [0, 1]")
    c = F.col(id_col)
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("long")
        % _BUCKETS
    )
    return df.filter(bucket < int(round(fraction * _BUCKETS)))


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    *,
    salt: str = "",
) -> DataFrame:
    """Exactly ``n`` rows sampled WITHOUT replacement with inclusion
    probability proportional to ``weight_col`` — Efraimidis-Spirakis
    A-RES (public): each row gets key ``u^(1/w)`` with ``u`` uniform in
    (0, 1], the top-n keys win. The uniform comes from
    ``md5(id || salt)`` (same stability contract as the rest of this
    module: membership is a pure function of id + weight + salt, so
    retries, re-runs, and other engines reproduce the identical sample;
    vary ``salt`` for a fresh draw). The weighted complement of
    :func:`deterministic_sample` — "sample documents proportional to
    their token count" is THE corpus-mixing draw.

    We maximize the monotone-equivalent ``ln(u)/w`` (no pow), computed
    directly in the ORDER BY — no temp columns, nothing reserved.
    Rows with NULL or non-positive weight are never sampled (a zero
    weight must mean zero probability, and A-RES is undefined there).
    Ties (astronomically unlikely with continuous keys) break on id.

    Scale shape: global top-n compiles to TakeOrderedAndProject —
    per-partition heaps merged on the driver, never a full sort; n is
    the only driver-side quantity. Per-group caps belong to
    :func:`cap_per_group`; per-stratum rates to
    :func:`stratified_sample`.
    """
    if n < 1:
        raise ValueError("weighted_sample: n must be >= 1")
    c, w = F.col(id_col), F.col(weight_col)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(float(1 << 32))
    key = F.log(u) / w
    return (
        df.filter(w.isNotNull() & (w > 0))
        .orderBy(key.desc(), c.asc())
        .limit(n)
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    *,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sample: each row's keep-fraction is looked
    up by its (stringified) ``strata_col`` value — the standard rebalancing
    move ("keep 5% of web, 50% of books") with the same stability contract
    as :func:`deterministic_sample` (membership is a pure function of
    id + salt, so re-runs, retries, and other engines reproduce it).
    Strata absent from ``fractions`` fall back to ``default_fraction``.

    Pure expressions — the per-stratum threshold is a CASE over the
    broadcast-free literal map; no shuffle, no RNG, no join.
    """
    for k, f in list(fractions.items()) + [("default", default_fraction)]:
        if not (0.0 <= f <= 1.0):
            raise ValueError(
                f"stratified_sample: fraction for {k!r} must be in [0, 1]"
            )
    c = F.col(id_col)
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("long")
        % _BUCKETS
    )
    thr = None
    for value, frac in fractions.items():
        cond = F.col(strata_col).cast("string").eqNullSafe(F.lit(value))
        bound = F.lit(int(round(frac * _BUCKETS)))
        thr = F.when(cond, bound) if thr is None else thr.when(cond, bound)
    default_bound = F.lit(int(round(default_fraction * _BUCKETS)))
    thr = default_bound if thr is None else thr.otherwise(default_bound)
    return df.filter(bucket < thr)


def mix_corpora(
    sources: dict[str, tuple[DataFrame, float]],
    id_col: str,
    *,
    salt: str = "",
    source_col: str = "mix_source",
) -> DataFrame:
    """Deterministic training-mix assembly: for each named source, keep a
    hash-stable ``fraction`` of its rows, tag provenance, and union —
    the standard "X% of web, Y% of code, Z% of books" recipe, fully
    reproducible (the mix is a pure function of ids + salt, no RNG).
    Schemas are aligned by name (``unionByName``)."""
    if not sources:
        raise ValueError("mix_corpora: sources must be non-empty")
    parts = []
    for name, (df, fraction) in sources.items():
        parts.append(
            deterministic_sample(df, id_col, fraction, salt=salt).withColumn(
                source_col, F.lit(name)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def temperature_shares(
    totals: dict[str, float], temperature: float
) -> dict[str, float]:
    """Temperature-rebalanced mix shares: ``p_s ∝ n_s^τ`` normalized —
    the standard multilingual/domain smoothing (mT5/XLM-R style) that
    turns raw corpus sizes into training shares. ``τ=1`` reproduces the
    natural proportions; ``τ→0`` flattens toward uniform; values in
    between upsample the tail without letting the head dominate.

    Driver-side math over the |sources|-row totals (get them from ONE
    tiny agg: ``df.groupBy(source).agg(sum(token_count))``) — the
    output is exactly the ``target`` dict :func:`token_budget_mix`
    consumes, so the full recipe is::

        shares = temperature_shares(totals, temperature=0.7)
        mixed = token_budget_mix(df, "id", "source", shares, ...)
    """
    if not totals:
        raise ValueError("temperature_shares: totals must be non-empty")
    if temperature <= 0:
        raise ValueError("temperature_shares: temperature must be > 0")
    for k, v in totals.items():
        if v <= 0:
            raise ValueError(
                f"temperature_shares: total for {k!r} must be > 0, got {v}"
            )
    raised = {k: float(v) ** temperature for k, v in totals.items()}
    z = sum(raised.values())
    return {k: v / z for k, v in raised.items()}


def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    cap: int,
    *,
    exact: bool = True,
    salt: str = "",
) -> DataFrame:
    """At most ``cap`` rows per group, deterministically — the per-domain
    document cap of web-corpus curation ("no host contributes more than
    N pages"), also the anti-skew guard before any per-group O(n²) work.

    Skew-aware two-phase shape: ONE partial-agg count finds the
    offending groups (web corpora: a handful of mega-hosts); rows of
    under-cap groups pass through untouched via a broadcast anti-join —
    NO window, NO per-group sort for the overwhelming majority of the
    data. Only offender rows (semi-join, same broadcast) are ranked.

    ``exact=True``: offenders are ranked by ``(md5(id+salt), id)`` in a
    per-group window — exactly ``cap`` survivors per offending group,
    deterministic and oracle-reproducible; the window sorts ONLY
    offender groups, each on one task (the inherent cost of an exact
    per-group top-N — the two-phase split is what keeps that cost
    confined to offenders). ``exact=False``: survivors are rows whose
    md5 bucket falls under ``floor(cap/n_g · 10000)`` — fully
    shuffle-free after the count (expected ≈cap per group, never the
    sort; the right mode when "roughly N per host" is the actual
    requirement, which for corpus caps it usually is).

    NULL group keys are a group like any other (null-safe joins
    throughout). Output keeps df's schema.
    """
    if cap < 1:
        raise ValueError("cap_per_group: cap must be >= 1")
    if not group_cols:
        raise ValueError("cap_per_group: group_cols must be non-empty")
    _check_reserved(df, {"_n", "_rn"}, "cap_per_group")
    from pyspark.sql.window import Window

    from ..plans.joins import join_null_safe

    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("_n"))
    over = counts.filter(F.col("_n") > cap)
    under_rows = join_null_safe(
        df, over.select(*group_cols), group_cols, "anti", broadcast=True
    )
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    if exact:
        over_rows = join_null_safe(
            df, over.select(*group_cols), group_cols, "semi", broadcast=True
        )
        w = Window.partitionBy(
            *[F.col(c) for c in group_cols]
        ).orderBy(h.asc(), F.col(id_col).asc())
        kept_over = (
            over_rows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cap)
            .drop("_rn")
        )
    else:
        with_n = join_null_safe(
            df, over, group_cols, "inner", broadcast=True
        )
        # same md5-bucket idiom as split_assignment (% _BUCKETS); the
        # keep threshold floors at 1 — floor(cap·B/n) would hit 0 for
        # groups larger than cap·B rows and silently drop the WHOLE
        # group, the exact hosts the cap exists to tame
        bucket = (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _BUCKETS
        )
        threshold = F.greatest(
            F.lit(1), F.floor(F.lit(cap) * _BUCKETS / F.col("_n"))
        )
        kept_over = with_n.filter(bucket < threshold).drop("_n")
    return under_rows.unionByName(kept_over)


def token_budget_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    target: dict[str, float],
    *,
    text_col: str | None = None,
    token_count_col: str | None = None,
    total_tokens: int | None = None,
    salt: str = "",
    keep_col: str = "mix_keep",
    tokens_col: str = "mix_tokens",
    method: str = "partitioned",
    count: str = "whitespace",
    bpe_merges: list | None = None,
) -> DataFrame:
    """TOKEN-weighted training-mix assembly: annotate each row with
    whether it makes the mix when source proportions are specified in
    TOKENS, the unit LLM data recipes are actually written in ("30%
    code BY TOKENS") — :func:`mix_corpora` / :func:`stratified_sample`
    sample by ROWS, which skews the token mix whenever document length
    differs by source (it always does: code files vs tweets).

    Budget math (all in-plan, no driver action): target shares are
    normalized; the feasible total is ``T = min_s floor(tokens_s /
    p_s)`` — the largest total for which every source can fill its
    share — optionally capped by ``total_tokens``; each source's budget
    is ``floor(p_s * T)``. Within a source, rows enter the mix in
    md5(id+salt) order (the deterministic-sample stability contract: a
    row's membership is a pure function of ids + salt + the corpus
    totals) until the budget is reached — the greedy prefix never
    exceeds the budget (document granularity may leave it slightly
    under-filled).

    Annotate-not-filter: EVERY input row comes back with ``tokens_col``
    and boolean ``keep_col``; rows whose source is absent from
    ``target`` (including NULL sources) get ``keep_col = false``.

    Scale shape: one small per-source total aggregate (map-side
    partials) broadcast back; the per-source running token offset uses
    the distributed prefix-sum shape of :func:`pack_sequences`
    (``method='partitioned'``: range partition by (source, hash),
    per-partition local cumsum, small (source, partition)-offsets
    broadcast) so no single task ever holds a whole source;
    ``method='single_task'`` keeps the textbook per-source window for
    tiny frames and the DuckDB oracle.

    ``count`` picks the token counter applied to ``text_col``:
    ``'whitespace'`` (default — the fast expression-tree count) or
    ``'bpe'`` with a ``bpe_merges`` table (from
    :func:`..functions.bpe.bpe_learn`) — mix recipes are specified in
    TOKENIZER tokens, and a 10-20% systematic whitespace-count bias
    shifts every source share; the BPE counter is an Arrow kernel with
    the merges broadcast in its closure. Ignored when the caller
    supplies ``token_count_col`` (counts already computed).
    """
    from pyspark.sql.window import Window

    from ..functions.text import token_count

    if not target:
        raise ValueError("token_budget_mix: target must be non-empty")
    for k, v in target.items():
        if v <= 0:
            raise ValueError(
                f"token_budget_mix: share for {k!r} must be > 0, got {v}"
            )
    if (text_col is None) == (token_count_col is None):
        raise ValueError(
            "token_budget_mix: exactly one of text_col/token_count_col"
        )
    if method not in ("partitioned", "single_task"):
        raise ValueError(f"token_budget_mix: unknown method {method!r}")
    if count not in ("whitespace", "bpe"):
        raise ValueError(
            f"token_budget_mix: count must be 'whitespace' or 'bpe', "
            f"got {count!r}"
        )
    if count == "bpe" and token_count_col is None and not bpe_merges:
        raise ValueError(
            "token_budget_mix: count='bpe' needs a non-empty bpe_merges "
            "table (train one with functions.bpe.bpe_learn)"
        )
    _check_reserved(
        df,
        {"_p", "_t", "_sp", "_src", "_budget", "_end", "_pid",
         "_end_loc", "_osrc", "_opid", "_pt", "_off"},
        "token_budget_mix",
    )
    tot = sum(target.values())
    shares = {k: v / tot for k, v in target.items()}

    if token_count_col:
        n_tok = F.col(token_count_col)
    elif count == "bpe":
        from ..functions.bpe import bpe_count_np

        n_tok = bpe_count_np(bpe_merges)(F.col(text_col))
    else:
        n_tok = token_count(text_col)

    def _share_of(src_col):
        # literal share lookup (no join): NULL for non-target sources
        expr = None
        for k, v in sorted(shares.items()):
            c = src_col == F.lit(k)
            expr = (
                F.when(c, F.lit(v)) if expr is None else expr.when(c, F.lit(v))
            )
        return expr

    base = df.withColumn(
        tokens_col, F.coalesce(n_tok.cast("long"), F.lit(0))
    ).withColumn("_p", _share_of(F.col(source_col).cast("string")))

    # feasible total + per-source budget over ONE global window on a
    # k-row per-source totals frame (a single-partition window over
    # |sources| rows — not data-sized; also avoids joining totals to a
    # frame derived from itself, which trips Catalyst's attribute
    # dedup). Missing target sources contribute no totals row -> they
    # can fill nothing, so the feasible total snaps to zero unless
    # every share is present.
    def _budgets(totals):
        # totals: (_src string, _t long, _sp double), target sources only
        w_all = Window.partitionBy(F.lit(1))
        feasible = F.min(F.floor(F.col("_t") / F.col("_sp"))).over(w_all)
        if total_tokens is not None:
            feasible = F.least(feasible, F.lit(int(total_tokens)))
        t_col = F.when(
            F.count(F.lit(1)).over(w_all) == len(shares), feasible
        ).otherwise(F.lit(0))
        return totals.select(
            "_src", F.floor(F.col("_sp") * t_col).alias("_budget")
        )

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    if method == "single_task":
        w = (
            Window.partitionBy(F.col(source_col).cast("string"))
            .orderBy(h.asc(), F.col(id_col).asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = base.withColumn("_end", F.sum(tokens_col).over(w))
        budgets = _budgets(
            base.filter(F.col("_p").isNotNull())
            .groupBy(F.col(source_col).cast("string").alias("_src"))
            .agg(F.sum(tokens_col).alias("_t"), F.first("_p").alias("_sp"))
        )
    else:
        ranged = base.repartitionByRange(
            F.col(source_col).asc_nulls_first(), h.asc(), F.col(id_col).asc()
        ).withColumn("_pid", F.spark_partition_id())
        w_local = (
            Window.partitionBy(F.col(source_col).cast("string"), "_pid")
            .orderBy(h.asc(), F.col(id_col).asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        local = ranged.withColumn("_end_loc", F.sum(tokens_col).over(w_local))
        totals_p = ranged.groupBy(
            F.col(source_col).cast("string").alias("_osrc"), "_pid"
        ).agg(F.sum(tokens_col).alias("_pt"))
        w_prior = (
            Window.partitionBy("_osrc")
            .orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = totals_p.select(
            "_osrc",
            F.col("_pid").alias("_opid"),
            F.coalesce(F.sum("_pt").over(w_prior), F.lit(0)).alias("_off"),
        )
        cum = (
            local.join(
                F.broadcast(offsets),
                F.col(source_col).cast("string").eqNullSafe(F.col("_osrc"))
                & (F.col("_pid") == F.col("_opid")),
            )
            .drop("_osrc", "_opid")
            .withColumn("_end", F.col("_end_loc") + F.col("_off"))
        )
        # per-source totals FOLD OUT of the same (source, partition)
        # sums the offsets already need — no third scan of the corpus
        budgets = _budgets(
            totals_p.withColumn("_sp", _share_of(F.col("_osrc")))
            .filter(F.col("_sp").isNotNull())
            .groupBy(F.col("_osrc").alias("_src"))
            .agg(F.sum("_pt").alias("_t"), F.first("_sp").alias("_sp"))
        )
    out = cum.join(
        F.broadcast(budgets),
        F.col(source_col).cast("string") == F.col("_src"),
        "left",
    ).withColumn(
        keep_col,
        F.col("_p").isNotNull()
        & F.col("_budget").isNotNull()
        & (F.col("_end") <= F.col("_budget")),
    )
    drop = ["_p", "_end", "_src", "_budget"]
    if method != "single_task":
        drop += ["_pid", "_end_loc", "_off"]
    return out.drop(*drop)


# ---------------------------------------------------------------------------
# Training-sequence shaping: packing and chunking. The last mile of a
# pretraining pipeline — documents become fixed-width token windows.
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    id_col: str,
    *,
    text_col: str | None = None,
    token_count_col: str | None = None,
    max_tokens: int = 2048,
    method: str = "partitioned",
) -> DataFrame:
    """Concat-then-chunk sequence packing: lay all documents end-to-end
    in ``id_col`` order and cut the stream into ``max_tokens``-token
    training sequences — the standard packing strategy (documents may
    straddle a boundary). Returns the pack plan, not the tokens:
    ``(id, n_tokens, start_offset, first_chunk, last_chunk)`` — enough
    for a writer to route each document's pieces; zero-token documents
    get NULL chunks.

    ``method='partitioned'`` (default) computes the global running
    offset with the distributed prefix-sum shape (range-partition by id,
    per-partition local cumsum, P-row offsets table — the
    ``ks_statistic`` pattern): no single-task global window, no task
    ever holds more than its range. ``method='single_task'`` keeps the
    textbook global window for tiny frames/oracles.
    """
    from pyspark.sql.window import Window

    from ..functions.text import token_count

    if (text_col is None) == (token_count_col is None):
        raise ValueError(
            "pack_sequences: exactly one of text_col/token_count_col"
        )
    n_tok = (
        F.col(token_count_col)
        if token_count_col
        else token_count(text_col)
    )
    # null text / null count == zero tokens (a NULL would poison the
    # running offset of every later document)
    base = df.select(
        F.col(id_col),
        F.coalesce(n_tok.cast("long"), F.lit(0)).alias("n_tokens"),
    )

    if method == "single_task":
        w = Window.orderBy(id_col).rowsBetween(
            Window.unboundedPreceding, 0
        )
        cum = base.withColumn("_end", F.sum("n_tokens").over(w))
    elif method == "partitioned":
        ranged = base.repartitionByRange(F.col(id_col).asc()).withColumn(
            "_pid", F.spark_partition_id()
        )
        w_local = (
            Window.partitionBy("_pid")
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        local = ranged.withColumn(
            "_end_loc", F.sum("n_tokens").over(w_local)
        )
        totals = ranged.groupBy("_pid").agg(
            F.sum("n_tokens").alias("_t")
        )
        w_prior = Window.orderBy("_pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = totals.select(
            "_pid",
            F.coalesce(F.sum("_t").over(w_prior), F.lit(0)).alias("_off"),
        )
        cum = local.join(F.broadcast(offsets), "_pid").withColumn(
            "_end", F.col("_end_loc") + F.col("_off")
        )
    else:
        raise ValueError(f"pack_sequences: unknown method {method!r}")

    start = F.col("_end") - F.col("n_tokens")
    has = F.col("n_tokens") > 0
    return cum.select(
        id_col,
        "n_tokens",
        start.alias("start_offset"),
        F.when(has, F.floor(start / max_tokens)).alias("first_chunk"),
        F.when(has, F.floor((F.col("_end") - 1) / max_tokens)).alias(
            "last_chunk"
        ),
    ).orderBy(id_col)


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_tokens: int = 256,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into fixed-width token windows with
    ``overlap`` shared tokens between consecutive chunks — RAG/embedding
    chunking, document-boundary-preserving (no cross-document windows;
    contrast :func:`pack_sequences`).

    Chunk ``i`` covers tokens ``[i*stride, i*stride + max_tokens)`` with
    ``stride = max_tokens - overlap``; the last chunk may be shorter but
    a chunk fully contained in its predecessor is never emitted
    (``n_chunks = max(1, ceil((n - overlap) / stride))``). Zero-token
    documents emit nothing.

    Shape: pure expressions — tokenize once (let-bound), posexplode a
    chunk spine per document, slice locally. No shuffle at all: chunking
    is embarrassingly parallel and the plan is scan → generate →
    project.
    """
    from ..functions.expr import let_bind as _let
    from ..functions.text import tokenize

    if overlap >= max_tokens:
        raise ValueError("chunk_documents: overlap must be < max_tokens")
    stride = max_tokens - overlap

    chunks = _let(
        tokenize(text_col),
        lambda toks: _let(
            F.size(toks),
            lambda n: F.when(
                n > 0,
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(
                            F.lit(1),
                            F.ceil((n - F.lit(overlap)) / stride),
                        ).cast("int")
                        - 1,
                    ),
                    lambda i: F.struct(
                        F.concat_ws(
                            " ", F.slice(toks, i * stride + 1, max_tokens)
                        ).alias("chunk_text"),
                        F.least(
                            n - i * stride, F.lit(max_tokens)
                        ).alias("chunk_tokens"),
                    ),
                ),
            ).otherwise(
                F.array().cast(
                    "array<struct<chunk_text:string,chunk_tokens:int>>"
                )
            ),
        ),
    )
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "_c")
    ).select(
        id_col,
        "chunk_id",
        F.col("_c.chunk_tokens").alias("chunk_tokens"),
        F.col("_c.chunk_text").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Distribution-matched downsampling: rebalance a corpus to a target
# categorical mix (the "make the language distribution uniform" /
# "match the reference corpus mix" move) without collecting anything.
# ---------------------------------------------------------------------------


def matched_sample_plan(
    df: DataFrame, strata_col: str, target: dict[str, float]
) -> DataFrame:
    """Per-stratum sampling plan that downsamples ``df`` to match the
    ``target`` categorical distribution at the LARGEST feasible size.

    The feasible output size is limited by the scarcest stratum relative
    to its target share: ``scale = min over target strata of
    (count_v / share_v)``; every stratum then keeps
    ``fraction_v = share_v * scale / count_v`` of its rows (the limiting
    stratum keeps 100%). Strata absent from ``target`` get fraction 0 —
    matching a distribution that assigns them no mass means dropping them.

    Returns one row per observed stratum: ``(stratum, n_rows, share,
    fraction, bucket_bound)`` where ``bucket_bound =
    floor(round(fraction * 10000, 6))`` is the md5-bucket threshold
    :func:`matched_sample` filters against. Floor keeps the bound
    engine-portable (round half-up vs half-even can disagree on exact
    .5 ties); the 6-decimal snap BEFORE the floor absorbs float noise
    in ``share * (n/share) / n`` so the limiting stratum's fraction
    lands on exactly 1.0 (10000), never 0.999... -> 9999. Any replay
    (oracle or another engine) must reproduce both steps.

    Plan shape: ONE small groupBy on the stratum column; the scale is a
    1-row aggregate cross-joined back (broadcast, k rows). Nothing is
    collected — the plan composes lazily into :func:`matched_sample`.
    """
    if not target:
        raise ValueError("matched_sample_plan: target must be non-empty")
    total = sum(target.values())
    if total <= 0:
        raise ValueError("matched_sample_plan: target shares must sum > 0")
    for k, v in target.items():
        if v < 0:
            raise ValueError(
                f"matched_sample_plan: share for {k!r} must be >= 0"
            )

    share_expr = None
    for value, raw in target.items():
        share = raw / total
        cond = F.col("stratum").eqNullSafe(F.lit(value))
        share_expr = (
            F.when(cond, share)
            if share_expr is None
            else share_expr.when(cond, share)
        )
    share_expr = share_expr.otherwise(F.lit(0.0))

    counts = (
        df.groupBy(F.col(strata_col).cast("string").alias("stratum"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("share", share_expr)
    )
    scale = counts.filter(F.col("share") > 0).agg(
        F.min(F.col("n_rows") / F.col("share")).alias("_scale")
    )
    return (
        counts.crossJoin(F.broadcast(scale))
        .withColumn(
            "fraction",
            F.when(
                F.col("share") > 0,
                F.least(
                    F.lit(1.0),
                    F.col("share") * F.col("_scale") / F.col("n_rows"),
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "bucket_bound",
            # snap float noise before the floor: share*(n/share)/n can land
            # at 0.999999999999 for the limiting stratum, which would floor
            # to _BUCKETS-1 and silently drop ~1e-4 of the scarcest stratum
            F.floor(F.round(F.col("fraction") * _BUCKETS, 6)).cast("long"),
        )
        .drop("_scale")
    )


def matched_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    target: dict[str, float],
    *,
    salt: str = "",
) -> DataFrame:
    """Deterministically downsample ``df`` so its ``strata_col``
    distribution matches ``target`` (shares normalized), keeping as many
    rows as the scarcest stratum allows — see :func:`matched_sample_plan`.

    Membership is the same engine-stable contract as
    :func:`deterministic_sample`: a row is kept iff its md5 bucket falls
    under its stratum's bound, a pure function of ``id + salt``, so
    re-runs, retries, and other engines reproduce the identical sample.

    Plan shape: one tiny counts shuffle (k strata), then a broadcast join
    of the k-row plan onto ``df`` and a filter — the data itself never
    shuffles. At 100 TB the cost is one map-side-combined count plus a
    scan; no window, no RNG, no collect.
    """
    # internal names are prefixed so a caller's own "stratum"/
    # "bucket_bound" columns can't collide with the plan join
    plan = matched_sample_plan(df, strata_col, target).select(
        F.col("stratum").alias("_ms_stratum"),
        F.col("bucket_bound").alias("_ms_bound"),
    )
    c = F.col(id_col)
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("long")
        % _BUCKETS
    )
    return (
        df.join(
            F.broadcast(plan),
            df[strata_col].cast("string").eqNullSafe(F.col("_ms_stratum")),
            "inner",
        )
        .filter(bucket < F.col("_ms_bound"))
        .drop("_ms_stratum", "_ms_bound")
    )


def time_split(
    df: DataFrame,
    ts_col: str,
    *,
    train_end: str,
    embargo_seconds: int = 0,
    label_col: str = "split",
) -> DataFrame:
    """Temporal train/test split with an embargo gap — the
    leakage-safe convention for time-dependent data (public: the
    purge/embargo idea from López de Prado's time-series CV):
    everything strictly before ``train_end`` is ``train``; rows inside
    ``[train_end, train_end + embargo_seconds)`` are labeled
    ``embargo`` (excluded from BOTH sides — near-boundary rows carry
    information across it via autocorrelation/label horizons);
    everything at/after the embargo is ``test``. A NULL timestamp gets
    a NULL label (no silent bucket).

    A hash split (deterministic_split) answers "are these populations
    exchangeable?"; THIS answers "can the model see the future?" — use
    this one whenever rows are time-ordered observations.

    Pure expression tree (two timestamp comparisons), no shuffle, no
    action; ``train_end`` is an ISO timestamp string evaluated in the
    session timezone.
    """
    if embargo_seconds < 0:
        raise ValueError("time_split: embargo_seconds must be >= 0")
    if label_col in df.columns:
        raise ValueError(
            f"time_split: column {label_col!r} already exists on df"
        )
    ts = F.col(ts_col).cast("timestamp")
    cut = F.lit(train_end).cast("timestamp")
    test_start = cut + F.expr(
        f"INTERVAL {int(embargo_seconds)} SECONDS"
    )
    label = (
        F.when(ts.isNull(), F.lit(None).cast("string"))
        .when(ts < cut, F.lit("train"))
        .when(ts < test_start, F.lit("embargo"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn(label_col, label)
