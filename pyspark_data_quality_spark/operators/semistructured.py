"""Semi-structured column quality: JSON string fields.

Event pipelines carry loosely-typed JSON payloads next to the typed
columns (the ``events.props`` fixture); the recurring questions are
"is it still valid JSON", "which fields are actually populated", and
"do the values still cast to the type downstream assumes". This module
answers all three in ONE fused aggregate.

Reference parity: the reference validates flat columns only
(`/root/reference/src/pyspark_data_quality/checks/` — no JSON or nested
support); this extends its validity dimension to semi-structured data.

Scale shape: ``json_tuple`` is a JVM-side generator (ONE Jackson
parse per row for every requested field, no UDF); all per-field
counters are conditional sums in one ``df.agg`` — a single scan
regardless of field count — and the 1-row wide result is unpivoted
with ``stack`` (a projection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expr import DIGITS

#: Types accepted in a field spec (value of the ``fields`` dict).
CASTABLE_TYPES = ("bigint", "double", "boolean", "string", "timestamp")


def json_field_profile(
    df: DataFrame,
    json_col: str,
    fields: dict[str, str],
) -> DataFrame:
    """Per-field quality report over a JSON string column.

    ``fields`` maps a top-level field name to the type its consumers
    expect (one of :data:`CASTABLE_TYPES`). Output one row per field:

    - ``n_rows``: total rows;
    - ``n_json_null``: rows where the JSON column itself is NULL;
    - ``n_present``: rows where the field extracts non-null (valid JSON,
      key present, value not JSON null);
    - ``n_typed``: rows where the extracted value also casts to the
      expected type (``try_cast`` — a failed cast counts, never throws);
    - ``present_ratio`` / ``typed_ratio``: the two ratios over non-null
      JSON rows.

    A malformed JSON document reads as "field absent" for every field
    (``json_tuple`` extracts NULL), which is exactly how downstream
    consumers would experience it.
    """
    bad = [t for t in fields.values() if t not in CASTABLE_TYPES]
    if bad:
        raise ValueError(
            f"json_field_profile: unsupported types {bad}; use {CASTABLE_TYPES}"
        )
    j = F.col(json_col)
    names = sorted(fields)
    # json_tuple parses the document ONCE for every requested field;
    # per-field get_json_object would re-run the Jackson parse 2x per
    # field per row (present + typed probes) — measured ~2x slower on
    # the events fixture. Same NULL semantics: malformed JSON, missing
    # key, and JSON null all extract as NULL.
    extracted = df.select(
        j.isNull().alias("_jnull"),
        F.json_tuple(j, *names).alias(*[f"_f_{i}" for i in range(len(names))]),
    )
    aggs = [
        F.count(F.lit(1)).alias("_n_rows"),
        F.sum(F.col("_jnull").cast("long")).alias("_n_json_null"),
    ]
    for i, name in enumerate(names):
        raw = F.col(f"_f_{i}")
        aggs.append(F.sum(raw.isNotNull().cast("long")).alias(f"_p_{i}"))
        aggs.append(
            F.sum(raw.try_cast(fields[name]).isNotNull().cast("long")).alias(
                f"_t_{i}"
            )
        )
    wide = extracted.agg(*aggs)
    stacked = ", ".join(f"'{n}', _p_{i}, _t_{i}" for i, n in enumerate(names))
    denom = F.col("_n_rows") - F.col("_n_json_null")
    return wide.selectExpr(
        f"stack({len(names)}, {stacked}) as (field, n_present, n_typed)",
        "_n_rows",
        "_n_json_null",
    ).select(
        "field",
        F.col("_n_rows").alias("n_rows"),
        F.col("_n_json_null").alias("n_json_null"),
        "n_present",
        "n_typed",
        F.round(F.try_divide(F.col("n_present"), denom), DIGITS).alias(
            "present_ratio"
        ),
        F.round(F.try_divide(F.col("n_typed"), denom), DIGITS).alias(
            "typed_ratio"
        ),
    )


#: Chat-transcript shape ``conversation_lint`` parses into.
CONVERSATION_SCHEMA = "array<struct<role:string,content:string>>"


def conversation_lint(
    df: DataFrame,
    json_col: str,
    *,
    id_cols: list[str],
    allowed_roles: tuple[str, ...] = ("system", "user", "assistant"),
) -> DataFrame:
    """Chat-format training-data lint: validate a JSON conversation
    column (``[{"role": ..., "content": ...}, ...]``) against the
    structural rules instruction-tuning pipelines assume. Per row:

    - ``parse_ok``: valid JSON of the expected shape with >= 1 turn —
      the text must be a real ARRAY (``from_json`` silently wraps a
      bare object into a singleton array; a corpus of single message
      objects is a format violation, not a set of 1-turn transcripts)
      and parse (``from_json`` yields NULL on malformed input — same
      loud-absence semantics as :func:`json_field_profile`);
    - ``n_turns``: total turns (NULL when unparseable);
    - ``roles_valid``: every role in ``allowed_roles``;
    - ``system_prefix_ok``: 'system' turns only as the leading turn;
    - ``starts_with_user`` / ``ends_with_assistant``: over the body
      (non-system turns) — the pair every SFT collator assumes;
    - ``alternation_ok``: no two consecutive same-role body turns
      (``zip_with`` of the body against itself shifted by one);
    - ``no_empty_content``: no NULL/whitespace-only content anywhere;
    - ``conversation_ok``: AND of all checks (false when unparseable).

    Scale shape: ONE Jackson parse per row (``from_json``) and pure
    higher-order-function expressions over the parsed array — no UDFs,
    no shuffle, the lint rides the scan. The parsed array and its
    non-system body are bound ONCE as columns (interpreted HOF lambdas
    have no common-subexpression elimination; re-deriving the body in
    five checks would re-filter it five times)."""
    if not allowed_roles:
        raise ValueError(
            "conversation_lint: allowed_roles must be non-empty (an "
            "empty IN () would die later as a cryptic ParseException)"
        )
    for r in allowed_roles:
        if not r.replace("_", "").isalnum():
            raise ValueError(
                f"conversation_lint: role {r!r} must be alphanumeric"
            )
    clash = {"_conv", "_body"} & set(df.columns)
    if clash:
        raise ValueError(
            f"conversation_lint: column(s) {sorted(clash)} are reserved"
        )
    roles_in = ", ".join(f"'{r}'" for r in allowed_roles)
    parsed = df.withColumn(
        "_conv", F.from_json(F.col(json_col), CONVERSATION_SCHEMA)
    ).withColumn(
        "_body", F.expr("filter(_conv, t -> t.role <> 'system')")
    )
    # from_json with an array schema silently WRAPS a bare top-level
    # object into a singleton array — a dataset of single message
    # objects would lint as clean 1-turn conversations; require the
    # raw text to actually be an array. Tested via the first
    # NON-WHITESPACE char: JSON permits leading \n/\t/\r, which ltrim
    # (spaces only) would miss, failing legal transcripts.
    is_array = (
        F.regexp_extract(F.col(json_col), r"^\s*(.)", 1) == "["
    )
    parse_ok = (
        is_array
        & F.col("_conv").isNotNull()
        & (F.expr("size(_conv)") >= 1)
    )
    checks = {
        "roles_valid": F.expr(
            f"forall(_conv, t -> t.role IN ({roles_in}))"
        ),
        "system_prefix_ok": F.expr(
            "forall(slice(_conv, 2, greatest(size(_conv) - 1, 0)),"
            " t -> t.role <> 'system')"
        ),
        "starts_with_user": F.expr(
            "size(_body) >= 1 AND element_at(_body, 1).role = 'user'"
        ),
        "alternation_ok": F.expr(
            "NOT exists(zip_with("
            "  slice(_body, 1, greatest(size(_body) - 1, 0)),"
            "  slice(_body, 2, greatest(size(_body) - 1, 0)),"
            "  (x, y) -> x.role = y.role), p -> p)"
        ),
        "ends_with_assistant": F.expr(
            "size(_body) >= 1 AND element_at(_body, -1).role = 'assistant'"
        ),
        "no_empty_content": F.expr(
            "NOT exists(_conv,"
            " t -> t.content IS NULL OR length(trim(t.content)) = 0)"
        ),
    }
    gated = {
        name: F.coalesce(F.when(parse_ok, c), F.lit(False))
        for name, c in checks.items()
    }
    all_ok = parse_ok
    for c in gated.values():
        all_ok = all_ok & c
    return parsed.select(
        *id_cols,
        F.coalesce(parse_ok, F.lit(False)).alias("parse_ok"),
        F.when(parse_ok, F.expr("size(_conv)")).alias("n_turns"),
        *[c.alias(n) for n, c in gated.items()],
        all_ok.alias("conversation_ok"),
    )
