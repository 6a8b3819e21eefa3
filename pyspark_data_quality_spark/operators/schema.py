"""Schema contract checks: expected-vs-actual schema drift report.

The reference validated schemas only implicitly (``_pre_check`` raising on
a missing rule column); real pipelines assert a full contract — every
expected column present with the expected type, nothing unexpected
appearing. This is driver-side metadata work (no Spark job reads data):
the report is a driver-built local relation (``plans/local.py``) over
the comparison of ``df.schema`` with the declared contract, so
collecting it runs no Spark job either.

Type names use Spark's ``simpleString`` vocabulary (``bigint``,
``double``, ``string``, ``timestamp`` …) — engine-neutral enough that the
DuckDB oracle reproduces the report from ``DESCRIBE`` with a type-name
mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.expr import DIGITS
from ..plans.local import local_frame

#: status values, in report order
OK = "ok"
TYPE_MISMATCH = "type_mismatch"
MISSING = "missing"
UNEXPECTED = "unexpected"

_REPORT_SCHEMA = (
    "column string, expected_type string, actual_type string, status string"
)


def schema_report(
    df: DataFrame,
    expected: dict[str, str],
    *,
    allow_unexpected: bool = False,
) -> DataFrame:
    """Compare ``df``'s schema against ``expected`` (column -> simpleString
    type, e.g. ``{"id": "bigint", "ts": "timestamp"}``).

    Returns one row per expected OR actual column:
    ``(column, expected_type, actual_type, status)`` with status
    ``ok`` / ``type_mismatch`` / ``missing`` (expected, absent) /
    ``unexpected`` (present, undeclared — suppressed when
    ``allow_unexpected``). Sorted by column name.
    """
    spark = SparkSession.getActiveSession() or df.sparkSession
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    rows: list[tuple[str, str | None, str | None, str]] = []
    for name, etype in expected.items():
        atype = actual.get(name)
        if atype is None:
            rows.append((name, etype, None, MISSING))
        elif atype == etype:
            rows.append((name, etype, atype, OK))
        else:
            rows.append((name, etype, atype, TYPE_MISMATCH))
    if not allow_unexpected:
        for name, atype in actual.items():
            if name not in expected:
                rows.append((name, None, atype, UNEXPECTED))
    rows.sort(key=lambda r: r[0])
    return local_frame(spark, rows, _REPORT_SCHEMA)


def schema_ok(df: DataFrame, expected: dict[str, str], **kw) -> bool:
    """True iff every report row is ``ok`` (driver-side, no data read)."""
    report = schema_report(df, expected, **kw)
    return all(r["status"] == OK for r in report.collect())


def candidate_keys(
    df: DataFrame,
    cols: list[str] | None = None,
    *,
    max_width: int = 2,
    exact: bool = False,
    rsd: float = 0.01,
    max_combos: int = 64,
) -> DataFrame:
    """Candidate-key discovery: for every column combination up to
    ``max_width``, how close is it to uniquely identifying a row? The
    profiling primitive behind "what IS the key of this table?" —
    schema archaeology on inherited data, dedup-key selection, join-key
    vetting.

    One row per combo with ``key_cols`` (comma-joined, in ``cols``
    order), ``width``, ``n_rows``, ``n_null_rows`` (rows where ANY
    member is NULL — disqualifying for a key), ``n_distinct`` (over
    NULL-free rows, SQL multi-column DISTINCT semantics),
    ``uniqueness`` (n_distinct / NULL-free rows) and ``is_key``
    (NULL-free and fully unique).

    Scale shape: ONE aggregation job for all combos. Default
    ``exact=False`` counts via a DataSketches HLL sketch
    (``functions/expr.approx_distinct``: ``hll_sketch_agg`` over one
    ``xxhash64`` per row, lgConfigK 14 at rsd 0.01) — every combo's
    sketch is one binary buffer in the same partial-agg pass, no row
    duplication, shuffle carries one sketch row per partition. (HLL++
    ``approx_count_distinct`` would give each combo 1,639 long buffer
    attributes and a fixed ~0.3 s of CPU per task at rsd 0.01, times up
    to 64 combos.) ``rsd`` sets the sketch size, raising ``ValueError``
    outside lgConfigK [4, 21], and ``is_key`` is then a
    >= (1 - 2*rsd) screen (approximate evidence, exact-verify the
    survivors). ``exact=True`` uses real COUNT(DISTINCT ...): Catalyst
    expands the input ONCE PER COMBO before the shuffle — at 100 TB
    that multiplier is the whole bill, which is why the combo count is
    capped loudly (``max_combos``) and approx is the default.

    Reference parity: the reference's UniqueCheck
    (src/pyspark_data_quality/checks/unique_check.py) audits ONE
    declared column list; this extension searches the combination
    space.
    """
    import itertools

    from pyspark.sql import functions as F

    from ..functions.expr import approx_distinct

    use = list(cols) if cols is not None else list(df.columns)
    missing = [c for c in use if c not in df.columns]
    if missing:
        raise ValueError(f"candidate_keys: columns {missing} not in df")
    if not use:
        raise ValueError("candidate_keys: no columns to profile")
    if max_width < 1:
        raise ValueError("candidate_keys: max_width must be >= 1")
    from ..plans.parallelism import ensure_min_partitions

    # the partial aggregation (and in exact mode the per-combo Expand)
    # runs in the scan's own partitioning — spread a single-split input
    # so combos x rows don't funnel through one task (no-op at scale,
    # r15-opt)
    df = ensure_min_partitions(df.select(*use))
    combos = [
        c
        for w in range(1, min(max_width, len(use)) + 1)
        for c in itertools.combinations(use, w)
    ]
    if len(combos) > max_combos:
        raise ValueError(
            f"candidate_keys: {len(combos)} combinations exceed "
            f"max_combos={max_combos} — narrow cols/max_width, or raise "
            "the cap knowingly (exact mode expands the input once per "
            "combo)"
        )

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, combo in enumerate(combos):
        any_null = None
        for c in combo:
            n = F.col(c).isNull()
            any_null = n if any_null is None else (any_null | n)
        aggs.append(
            F.sum(any_null.cast("long")).alias(f"_nn{i}")
        )
        # both paths count NULL-free rows only (SQL multi-column
        # DISTINCT semantics; approx_distinct drops NULL-bearing keys)
        n_distinct = (
            F.count_distinct(*[F.col(c) for c in combo]) if exact
            else F.expr(approx_distinct(combo, rsd))
        )
        aggs.append(n_distinct.alias(f"_nd{i}"))
    row = df.agg(*aggs)

    floor_ratio = 1.0 if exact else 1.0 - 2 * rsd
    combo_rows = F.array(*[
        F.struct(
            F.lit(",".join(combo)).alias("key_cols"),
            F.lit(len(combo)).alias("width"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"_nn{i}").alias("n_null_rows"),
            F.col(f"_nd{i}").alias("n_distinct"),
        )
        for i, combo in enumerate(combos)
    ])
    out = (
        row.select(F.explode(combo_rows).alias("_c"))
        .select("_c.*")
        .withColumn(
            "uniqueness",
            F.round(
                F.try_divide(
                    F.col("n_distinct"),
                    F.col("n_rows") - F.col("n_null_rows"),
                ),
                DIGITS,
            ),
        )
        .withColumn(
            "is_key",
            (F.col("n_null_rows") == 0)
            & (
                F.col("n_distinct")
                >= F.lit(floor_ratio) * F.col("n_rows")
            ),
        )
    )
    return out.orderBy("width", "key_cols")


#: VALUE-EXACT representability (schema-REGISTRY semantics): every
#: value of the narrow type is exactly representable in the wide one
#: (bigint->double is NOT here: longs above 2^53 lose precision).
#: This is a contract-evolution table, NOT a claim that every engine
#: decodes the physical files transparently — e.g. Spark's vectorized
#: parquet reader (<4.0) throws on int32 read as int64/timestamp, so
#: pair a passing verdict with an engine-capability check before
#: rewriting-in-place is skipped.
WIDENINGS = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("date", "timestamp"),
    # exact integer -> float promotions: the mantissa covers the whole
    # integer range (float carries 24 bits -> through smallint; double
    # carries 53 -> through int). int->float (2^31 > 2^24) and
    # bigint->double (2^63 > 2^53) are NOT here — those lose values.
    ("tinyint", "float"), ("tinyint", "double"),
    ("smallint", "float"), ("smallint", "double"),
    ("int", "double"),
}

#: change kinds, from harmless to breaking
UNCHANGED = "unchanged"
ADDED = "added"
WIDENED = "widened"
NARROWED = "narrowed"
CHANGED = "type_changed"
REMOVED = "removed"


def schema_compat(
    old: dict[str, str],
    new: dict[str, str],
    *,
    mode: str = "backward",
) -> "DataFrame":
    """Schema-EVOLUTION compatibility between two contract versions —
    the question :func:`schema_report` (one frame vs one contract)
    doesn't answer: can the fleet tolerate evolving the contract from
    ``old`` to ``new`` while both producer and consumer generations
    coexist? Standard schema-registry semantics (Confluent/Avro
    vocabulary), adapted to columnar-lake types:

    - ``backward``: consumers upgraded to ``new`` must read data still
      sitting in the lake under ``old`` — columns ADDED in ``new``
      break (old files never wrote them; no default-value channel in
      parquet contracts), removals are fine (the new reader stopped
      asking), and a type move passes iff the OLD value decodes as the
      NEW type ((old, new) in :data:`WIDENINGS`).
    - ``forward``: consumers still on ``old`` must read data produced
      under ``new`` — additions are fine (old readers project past
      them), removals break, and the move passes iff the NEW value
      decodes as the OLD type (a narrowing in this table's direction).
    - ``full``: both generations coexist — only unchanged columns pass.

    "Decodes" here means VALUE-exact representability per
    :data:`WIDENINGS` (registry semantics), not that every reader
    implementation transparently decodes the old physical encoding —
    verify engine support (or rewrite files) before relying on a
    passing type-move verdict in a specific lake engine.

    Output: one row per column in either version — ``(column,
    old_type, new_type, change, compatible)`` sorted by name, plus the
    overall verdict via :func:`schema_compat_ok`. Driver-side metadata
    only; no data is read at any scale."""
    if mode not in ("backward", "forward", "full"):
        raise ValueError(
            f"schema_compat: mode must be backward/forward/full, got {mode!r}"
        )
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("schema_compat: no active SparkSession")
    rows = []
    for name in sorted(set(old) | set(new)):
        o, n = old.get(name), new.get(name)
        if o is None:
            change = ADDED
        elif n is None:
            change = REMOVED
        elif o == n:
            change = UNCHANGED
        elif (o, n) in WIDENINGS:
            change = WIDENED
        elif (n, o) in WIDENINGS:
            change = NARROWED
        else:
            change = CHANGED
        # backward = NEW reader over OLD data: needs old -> new decode
        # (WIDENED); additions have no value in old files -> break.
        # forward = OLD reader over NEW data: needs new -> old decode
        # (NARROWED); removals leave the old reader dangling -> break.
        back_ok = change in (UNCHANGED, REMOVED, WIDENED)
        fwd_ok = change in (UNCHANGED, ADDED, NARROWED)
        ok = {
            "backward": back_ok,
            "forward": fwd_ok,
            "full": back_ok and fwd_ok,
        }[mode]
        rows.append((name, o, n, change, ok))
    return local_frame(
        spark,
        rows,
        "column string, old_type string, new_type string,"
        " change string, compatible boolean",
    )


def schema_compat_ok(
    old: dict[str, str], new: dict[str, str], *, mode: str = "backward"
) -> bool:
    """True iff every column of :func:`schema_compat` is compatible."""
    report = schema_compat(old, new, mode=mode)
    return all(r["compatible"] for r in report.collect())
