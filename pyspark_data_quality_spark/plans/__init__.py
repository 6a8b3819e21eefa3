from .analysis import AnalysisRunner
from .compile import (
    and_sql,
    ident,
    null_safe_sql,
    or_sql,
    ratio_sql,
    require_columns,
    sql_literal,
)

__all__ = [
    "AnalysisRunner",
    "and_sql",
    "ident",
    "null_safe_sql",
    "or_sql",
    "ratio_sql",
    "require_columns",
    "sql_literal",
]
