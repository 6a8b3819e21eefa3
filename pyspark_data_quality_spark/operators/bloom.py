"""Broadcast Bloom-filter membership: the 100 TB scale path for
"is this row already in that huge corpus?" questions.

The exact incremental dedup (:func:`.dedup.dedup_against`) anti-joins the
batch against the reference fingerprint set — correct, but the reference
side must be shuffled (or at least distinct-aggregated) on content every
run. At corpus scale the cheaper shape is:

1. Fold the reference into a fixed-size bit array (``bloom_build``): one
   scan, map-side partial ``bit_or`` aggregation into at most
   ``num_bits/64`` groups, so the shuffle moves a few MB of bitmap words
   no matter how many trillions of rows went in.
2. Broadcast the 1-row bitmap and probe it with pure JVM expressions
   (``bloom_probe``): no shuffle of the batch at all.
3. Optionally verify the (few) probable hits exactly
   (``dedup_against_bloom(exact_verify=True)``): only candidate
   fingerprints — true duplicates plus an ``fpp`` sliver of false
   positives — take part in a join, and they travel as broadcasts, so
   the reference is only ever *scanned*, never shuffled by content.

No false negatives (a Bloom filter never misses a member), so with
``exact_verify=True`` the result is row-for-row identical to
``dedup_against``; certified against the same DuckDB oracle
(row-identical to ``dq_dedup_against``; equivalence pinned in tests/test_bloom.py). ``bloom_probe`` also accepts a STREAMING ``df``:
the bitmap is a static broadcast, so a readStream micro-batch filters
known documents with zero stateful operators and zero stream-side
shuffle (tests/test_streaming.py
test_streaming_bloom_dedup_against_static_corpus) — the streaming face
of incremental dedup when dropDuplicatesWithinWatermark state would be
corpus-sized. Everything is built from ``xxhash64`` / ``pmod`` /
``bit_or`` / ``shiftleft`` — JVM intrinsics inside whole-stage codegen,
no UDFs, no driver-side bitmap.

Reference parity: the reference engine has no Bloom path (its dedup story
is the rule framework only); this module is part of the training-data
extension surface, mirroring Spark's own runtime row-level bloom join
(`spark.sql.optimizer.runtime.bloomFilter.*`) as an explicit,
persistable operator.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import doc_fingerprint

__all__ = [
    "bloom_params",
    "bloom_build",
    "bloom_probe",
    "dedup_against_bloom",
]


def bloom_params(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard Bloom sizing: bits ``m = -n·ln(p)/ln(2)²`` (rounded up to
    a multiple of 64) and hash count ``k = round(m/n·ln 2)``, floor 1.

    At ``fpp=0.01`` that is ~9.6 bits/item: a 1-billion-fingerprint
    reference corpus costs ~1.2 GB of bitmap — too big to broadcast; at
    that scale shard the reference (build one bloom per shard/date) or
    accept a higher ``fpp``. A 100M-item corpus at 1% is ~120 MB, inside
    Spark's broadcast comfort zone.
    """
    if expected_items < 1:
        raise ValueError("bloom_params: expected_items must be >= 1")
    if not (0.0 < fpp < 1.0):
        raise ValueError("bloom_params: fpp must be in (0, 1)")
    m = math.ceil(-expected_items * math.log(fpp) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / expected_items * math.log(2)))
    return m, k


def _position(value: Column, i: int, num_bits: int) -> Column:
    """Bit position i for ``value`` — THE build/probe hash contract,
    defined once: hash i is ``xxhash64(value, i)`` with an INT literal
    seed; ``pmod`` (not ``%``) keeps positions non-negative."""
    return F.pmod(F.xxhash64(value, F.lit(i)), F.lit(num_bits).cast("long"))


def _positions(value: Column, num_hashes: int, num_bits: int) -> Column:
    """Array of ``num_hashes`` bit positions for ``value``. Plain
    unrolled expressions, no higher-order functions: lambda bodies that
    mix stream-side and broadcast-side attributes fail Catalyst's
    reference binding across a BroadcastNestedLoopJoin
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND), and unrolled comparisons stay
    inside whole-stage codegen anyway.
    """
    return F.array(*[_position(value, i, num_bits) for i in range(num_hashes)])


def bloom_build(
    df: DataFrame, col: str, *, num_bits: int, num_hashes: int
) -> DataFrame:
    """Fold ``df[col]`` into a 1-row Bloom bitmap DataFrame with schema
    ``(words: array<long>, num_bits: int, num_hashes: int)``.

    Fully distributed: explode each value's ``num_hashes`` positions,
    ``bit_or`` per 64-bit word (map-side partial aggregation caps the
    shuffle at ``num_bits/64`` rows), left-join a ``spark.range`` spine
    to zero-fill unset words, and collect_list into the single bitmap
    row. The driver never materializes the bitmap; duplicates in ``df``
    are harmless (idempotent ORs), so the input needs NO distinct.

    NULL values hash like Spark's hash functions treat them everywhere
    (the null child is skipped, yielding the seed-only hash) — a
    deterministic position set, consistent between build and probe.
    """
    if num_bits < 64:
        raise ValueError("bloom_build: num_bits must be >= 64")
    if num_hashes < 1:
        raise ValueError("bloom_build: num_hashes must be >= 1")
    n_words = (num_bits + 63) // 64
    pos = F.explode(
        _positions(F.col(col), num_hashes, num_bits)
    ).alias("_pos")
    set_words = (
        df.select(pos)
        .select(
            F.shiftright("_pos", 6).alias("_w"),
            # shiftleft's Python wrapper only takes a literal shift, so
            # the per-row mask 1<<(_pos%64) goes through F.expr.
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))"
            ).alias("_bit"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_bit").alias("_bits"))
    )
    spine = df.sparkSession.range(n_words).select(F.col("id").alias("_w"))
    full = spine.join(set_words, "_w", "left").select(
        "_w", F.coalesce("_bits", F.lit(0).cast("long")).alias("_bits")
    )
    return (
        full.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("_w", "_bits"))).alias("_ws"))
        .select(
            F.transform("_ws", lambda s: s["_bits"]).alias("words"),
            F.lit(num_bits).alias("num_bits"),
            F.lit(num_hashes).alias("num_hashes"),
        )
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    col: str,
    *,
    out_col: str = "bloom_maybe",
    num_bits: int | None = None,
    num_hashes: int | None = None,
) -> DataFrame:
    """``df`` plus boolean ``out_col``: False = definitely NOT in the
    built set; True = probably in it (false-positive rate ``fpp``).

    The bitmap rides in as a broadcast 1-row LEFT join on TRUE (constant
    fan-out — the same whitelisted shape as the 1-row stats broadcasts
    elsewhere; LEFT, not cross, so a zero-row bitmap frame surfaces as
    NULL bitmap columns and fails loud in-plan instead of silently
    annihilating every probe row); the membership test is ``num_hashes``
    unrolled ``getbit`` checks, entirely inside whole-stage codegen.
    Pass ``num_bits``/``num_hashes`` when you know them (no extra work —
    the probe stays a lazy plan builder); omit them and the probe reads
    the bloom row's metadata columns with one tiny collect — the extra
    job is how a bitmap persisted by an earlier run (write the 1-row
    frame as parquet) stays self-describing.
    """
    reserved = {"words", "num_bits", "num_hashes"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"bloom_probe: df columns {sorted(clash)} collide with the "
            "bloom bitmap columns; rename them first"
        )
    if num_bits is None or num_hashes is None:
        meta = bloom.select("num_bits", "num_hashes").first()
        if meta is None:
            raise ValueError("bloom_probe: bloom frame is empty")
        num_bits, num_hashes = meta.num_bits, meta.num_hashes
    # LEFT join on TRUE, not crossJoin: against a zero-row bitmap frame
    # (missing/never-written bitmap) a crossJoin silently annihilates
    # every probe row, while the left join keeps them with NULL bitmap
    # columns — which fails params_ok below and raises loud AT EXECUTION,
    # costing no extra driver action (the probe stays a lazy plan
    # builder: dedup_against_bloom hands us an unmaterialized
    # bloom_build plan, and an eager emptiness check would execute the
    # whole reference aggregation twice)
    # a multi-row bloom frame (e.g. a bitmap parquet accidentally
    # appended twice) would silently DUPLICATE every probe row through
    # the join — number the bitmap rows (a one-partition window over a
    # frame of a few rows) so a second row fails the in-plan guard below
    from pyspark.sql.window import Window as _W

    bloom = bloom.withColumn(
        "_bloom_rn", F.row_number().over(_W.orderBy(F.lit(1)))
    )
    joined = df.join(F.broadcast(bloom), F.lit(True), "left")
    checks = [
        F.getbit(
            F.element_at(
                "words", (F.shiftright(p, 6) + F.lit(1)).cast("int")
            ),
            p % 64,
        )
        == 1
        for p in [
            _position(F.col(col), i, num_bits) for i in range(num_hashes)
        ]
    ]
    maybe = checks[0]
    for c in checks[1:]:
        maybe = maybe & c
    # in-plan guard: probing with parameters that disagree with the
    # bitmap's own metadata silently voids the no-false-negative
    # contract, and a NULL bitmap row (empty bloom frame via the left
    # join above) means there is no bitmap at all — fail the job on
    # either instead
    params_ok = (
        (F.col("num_bits") == F.lit(num_bits))
        & (F.col("num_hashes") == F.lit(num_hashes))
        & (F.col("_bloom_rn") == 1)
    )
    maybe = F.when(params_ok, maybe).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "bloom_probe: supplied num_bits/num_hashes "
                    f"({num_bits}/{num_hashes}) do not match the "
                    "bitmap's ("
                ),
                F.coalesce(F.col("num_bits").cast("string"), F.lit("NULL")),
                F.lit("/"),
                F.coalesce(
                    F.col("num_hashes").cast("string"), F.lit("NULL")
                ),
                F.lit(") — NULL/NULL means the bloom frame is EMPTY; "
                      "a mismatch with matching params means it has "
                      "MULTIPLE rows"),
            )
        ).cast("boolean")
    )
    return joined.withColumn(out_col, maybe).drop(
        "words", "num_bits", "num_hashes", "_bloom_rn"
    )


def dedup_against_bloom(
    df: DataFrame,
    reference: DataFrame,
    text_col: str,
    *,
    ref_text_col: str | None = None,
    mode: str = "survivors",
    expected_items: int | None = None,
    fpp: float = 0.01,
    num_bits: int | None = None,
    num_hashes: int | None = None,
    exact_verify: bool = True,
) -> DataFrame:
    """Incremental dedup of ``df`` against ``reference`` via a broadcast
    Bloom prefilter — same contract as :func:`.dedup.dedup_against`
    (``mode='survivors'`` keeps new rows, ``'dups'`` the already-present
    ones), different scale shape.

    Sizing: pass ``num_bits``/``num_hashes`` explicitly, or
    ``expected_items`` (approximate reference cardinality — an estimate
    is fine; oversizing only wastes bitmap bits) + ``fpp``.

    With ``exact_verify=True`` (default) the result is EXACTLY
    ``dedup_against``'s: rows the bloom clears are genuinely new (no
    false negatives), and the probable hits are confirmed by two
    broadcast joins — candidate fingerprints broadcast against the
    reference scan to pull the true intersection, the (≤ candidates)
    intersection broadcast back. The reference is never shuffled and the
    batch is never shuffled; only candidate fingerprint sets move. If
    the batch is MOSTLY duplicates the candidate set approaches the
    batch size and the plain ``dedup_against`` join is the better tool.

    With ``exact_verify=False`` it is approximate: ``'survivors'`` may
    false-drop an ``fpp`` fraction of new rows; ``'dups'`` overcounts by
    the same sliver. No join at all — one scan of each side.
    """
    if mode not in ("survivors", "dups"):
        raise ValueError(f"dedup_against_bloom: unknown mode {mode!r}")
    clash = {"_fp", "_maybe"} & set(df.columns)
    if clash:
        raise ValueError(
            f"dedup_against_bloom: df columns {sorted(clash)} collide "
            "with internal temporaries; rename them first"
        )
    if num_bits is None or num_hashes is None:
        if expected_items is None:
            raise ValueError(
                "dedup_against_bloom: pass expected_items (reference "
                "cardinality estimate) or explicit num_bits + num_hashes"
            )
        auto_bits, auto_hashes = bloom_params(expected_items, fpp)
        if num_bits is None:
            num_bits = auto_bits
        if num_hashes is None:
            # optimal k for the bitmap ACTUALLY used, k = (m/n)·ln 2:
            # the auto hash count is tuned for the auto bitmap size,
            # and probing a caller-sized (e.g. deliberately small)
            # bitmap with it saturates the filter — far more false
            # positives than the requested fpp implies
            num_hashes = max(
                1, round(num_bits / expected_items * math.log(2))
            )

    ref_fp = reference.select(
        doc_fingerprint(ref_text_col or text_col).alias("_fp")
    )
    bloom = bloom_build(ref_fp, "_fp", num_bits=num_bits, num_hashes=num_hashes)
    probed = bloom_probe(
        df.withColumn("_fp", doc_fingerprint(text_col)),
        bloom,
        "_fp",
        out_col="_maybe",
        num_bits=num_bits,
        num_hashes=num_hashes,
    )
    if not exact_verify:
        keep = ~F.col("_maybe") if mode == "survivors" else F.col("_maybe")
        return probed.filter(keep).drop("_fp", "_maybe")

    # persisted: the probed batch feeds up to three consumers (candidate
    # set, cleared rows, confirmed-new anti-join) — without the cache the
    # batch scan + fingerprint + bitmap probe re-execute per consumer.
    # The batch is the SMALL incremental side by contract (the reference
    # stays scan-only), so caching it is bounded; plans/cache.py lifetime.
    from ..plans.cache import pin

    probed = pin(probed)
    cand = probed.filter(F.col("_maybe"))
    cand_fp = cand.select("_fp").distinct()
    # True intersection: reference SCAN semi-joined against the broadcast
    # candidate set (build side = candidates), then distinct'd — at most
    # |candidates| rows, itself broadcastable back.
    dup_fp = ref_fp.join(F.broadcast(cand_fp), "_fp", "semi").distinct()
    if mode == "dups":
        return cand.join(F.broadcast(dup_fp), "_fp", "semi").drop("_fp", "_maybe")
    cleared = probed.filter(~F.col("_maybe"))
    confirmed_new = cand.join(F.broadcast(dup_fp), "_fp", "anti")
    return cleared.unionByName(confirmed_new).drop("_fp", "_maybe")
