"""Compilation helpers: rule specs as Spark SQL text, schema validation.

Every built-in rule states its scope, row predicate, violation and
aggregates as SQL text built from its own config, and a run parses each
text once (``selectExpr`` / ``filter(str)`` / ``F.expr``). Building the
same trees from ``Column`` operators costs a py4j round trip per
operator, and under PySpark 4.1's per-call origin capture about ten
(``F.col`` 13 commands, ``&`` 11, one ``F.expr`` 3): the seven rules of
perfbench's ``quarantine_batches`` cost ~1,350 py4j commands to compose
as Columns against ~50 as text. Everything here is driver-side plan
building — no Spark actions — and Catalyst receives the same expression
trees either way, so pushdown and codegen are unchanged.

Text rules:

- identifiers go through :func:`ident` (backticks, inner backticks
  doubled), so a name holding ``.`` or a backtick is one column, never
  struct access;
- values go through :func:`sql_literal`, typed exactly as ``F.lit``
  types them and parsed alike under both
  ``spark.sql.parser.escapedStringLiterals`` settings;
- every embedded sub-expression is parenthesized, so a user's SQL
  condition keeps its own precedence.

Reference parity: ``_condition_to_col`` (``completeness_col_ratio_check.py:66-76``
and twins) normalized ``None | Column | Callable``; SQL strings are also
accepted. A ``Column`` or callable condition cannot be text: the rule's
``prepare`` binds it once as a marker column (:func:`bind_condition`)
and its text names that column (:func:`condition_sql`).
"""

from __future__ import annotations

import calendar
import math
import time
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Callable, Union

import numpy as np
from pyspark.sql import Column, DataFrame

from ..core.errors import ColumnNotFoundError, RuleConfigurationError

#: Anything a user may pass as a scope condition or row predicate.
ConditionLike = Union[None, str, Column, Callable[[DataFrame], Column]]


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier: one column, whatever it holds."""
    return "`" + name.replace("`", "``") + "`"


def _is_plain(s: str) -> bool:
    """True when ``'s'`` parses to ``s`` under both escape settings:
    printable ASCII without a quote or a backslash."""
    return all(" " <= ch <= "~" and ch not in "'\\" for ch in s)


#: ``F.lit`` types for numpy scalars (PySpark's ``_from_numpy_type``)
_NP_INT_SUFFIX = {1: "Y", 2: "S", 4: "", 8: "L"}


def sql_literal(value: Any) -> str:
    """``value`` as SQL literal text with the type ``F.lit(value)`` gives
    it: int INT (BIGINT beyond 32 bits), float DOUBLE, Decimal DECIMAL of
    its own precision and scale, date DATE, datetime TIMESTAMP (an aware
    value at its instant, a naive one read in the driver's OS timezone,
    as py4j's converter does — also where ``spark.sql.timestampType``
    is TIMESTAMP_NTZ, which would make ``F.lit`` of a naive value NTZ:
    reading that conf would cost a JVM call per literal), str STRING,
    bytes BINARY, None NULL.

    Traps avoided: adjacent string literals concatenate (``'it''s'`` is
    ``its``), backslashes unescape only when
    ``escapedStringLiterals`` is off, and a bare ``0.1`` is DECIMAL —
    so strings outside printable ASCII, or holding ``'`` or ``\\``,
    are UTF-8 hex cast to STRING, and doubles carry a ``D`` suffix
    (NaN and the infinities a cast, nullable until constant-folded).
    NumPy scalars take ``F.lit``'s NumPy types (int8 TINYINT … float32
    FLOAT). A type ``F.lit`` rejects raises
    :class:`RuleConfigurationError`."""
    if value is None:
        return "NULL"
    if isinstance(value, np.generic):
        kind, size = value.dtype.kind, value.dtype.itemsize
        if kind == "b":
            return sql_literal(bool(value))
        if kind == "i":
            return f"{int(value)}{_NP_INT_SUFFIX[size]}"
        if kind == "f" and size == 4:
            return f"CAST({sql_literal(float(value))} AS FLOAT)"
        if kind == "f" and size == 8:
            return sql_literal(float(value))
    elif isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    elif isinstance(value, int):
        if -(2**31) <= value < 2**31:
            return str(value)
        if -(2**63) <= value < 2**63:
            return f"{value}L"
    elif isinstance(value, float):
        if math.isnan(value) or math.isinf(value):
            special = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}
            return f"CAST('{special[repr(value)]}' AS DOUBLE)"
        return f"{value!r}D"
    elif isinstance(value, Decimal):
        if value.is_finite():
            return f"{value}BD"
    elif isinstance(value, datetime):
        seconds = (
            calendar.timegm(value.utctimetuple())
            if value.tzinfo
            else time.mktime(value.timetuple())
        )
        return f"timestamp_micros({int(seconds) * 1_000_000 + value.microsecond}L)"
    elif isinstance(value, date):
        return f"DATE '{value.isoformat()}'"
    elif isinstance(value, str):
        if _is_plain(value):
            return f"'{value}'"
        return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"
    elif isinstance(value, (bytes, bytearray)):
        return f"X'{bytes(value).hex()}'"
    raise RuleConfigurationError(
        f"cannot use {value!r} ({type(value).__name__}) as a SQL literal"
    )


def needs_marker(condition: ConditionLike) -> bool:
    """True for the condition forms that are not SQL text (Column,
    callable): ``prepare`` binds those as a marker column."""
    if condition is None or isinstance(condition, str):
        return False
    if isinstance(condition, Column) or callable(condition):
        return True
    raise RuleConfigurationError(
        f"unsupported condition type: {type(condition).__name__}"
    )


def condition_sql(condition: ConditionLike, marker: str) -> str:
    """A condition as SQL text: ``None`` -> ``TRUE`` (whole dataset in
    scope), a SQL string as itself, a Column or callable as a reference
    to the ``marker`` column :func:`bind_condition` adds."""
    if needs_marker(condition):
        return ident(marker)
    return "TRUE" if condition is None else f"({condition})"


def bind_condition(df: DataFrame, condition: ConditionLike, marker: str) -> DataFrame:
    """``df`` plus a ``marker`` column holding a Column condition's value,
    or a callable's (it receives ``df`` and must return a ``Column``);
    ``df`` itself for SQL-text and absent conditions."""
    if not needs_marker(condition):
        return df
    col = condition if isinstance(condition, Column) else condition(df)
    if not isinstance(col, Column):
        raise RuleConfigurationError(
            f"condition callable must return a Column, got {type(col).__name__}"
        )
    return df.withColumn(marker, col)


def and_sql(preds: list[str]) -> str:
    """AND-fold predicate texts (left-deep, as ``reduce(&)``); empty
    folds to ``TRUE``."""
    return " AND ".join(f"({p})" for p in preds) if preds else "TRUE"


def or_sql(preds: list[str]) -> str:
    """OR-fold predicate texts; empty folds to ``FALSE``."""
    return " OR ".join(f"({p})" for p in preds) if preds else "FALSE"


def null_safe_sql(pred: str) -> str:
    """Treat a NULL-evaluating predicate as a failure (three-valued logic
    would otherwise silently drop the row from both pass and fail counts)."""
    return f"coalesce(({pred}), false)"


def require_columns(df: DataFrame | list[str], cols: list[str]) -> None:
    """Analysis-time schema validation (reference ``_pre_check``,
    ``completeness_col_ratio_check.py:61-64``). Raises before any job runs.
    ``df`` is a frame or its already-fetched column names; the schema is
    read once."""
    have = df if isinstance(df, list) else df.columns
    missing = [c for c in cols if c not in have]
    if missing:
        raise ColumnNotFoundError(missing, have)


def ratio_sql(scope: str, pred: str) -> str:
    """Fraction of in-scope rows satisfying ``pred`` as one aggregate.

    ``avg`` ignores NULLs, so out-of-scope rows (scope false -> NULL input)
    never contribute; in-scope rows contribute 0.0 or 1.0. This is the
    building block of the fused single-pass analysis (SURVEY.md §4): every
    ratio metric becomes one such expression inside a single aggregate,
    and the windowed streaming report reuses it per window.
    """
    return f"avg(CASE WHEN ({scope}) THEN CAST({null_safe_sql(pred)} AS DOUBLE) END)"
