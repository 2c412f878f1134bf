"""Label/string kernels for operator and plan-node names."""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def strip_operator_suffix(op_type: Column | str) -> Column:
    """Remove every 'Operator' occurrence from an operator type name.

    Reference analyze.py:531 uses str.replace (all occurrences).
    """
    col = F.col(op_type) if isinstance(op_type, str) else op_type
    return F.regexp_replace(col, "Operator", "")


def normalize_sql(sql: Column | str) -> Column:
    """SQL text -> its literal-free shape: string literals ('...', with ''
    escapes) then bare numbers become '?'. Two chained regexp_replace
    calls, whole-stage codegen — the query-template fingerprint used to
    group repeated statements that differ only in parameters (the classic
    workload-analysis dedup; beyond-reference capability in the
    reference's domain)."""
    col = F.col(sql) if isinstance(sql, str) else sql
    no_strings = F.regexp_replace(col, r"'[^']*'", "?")
    return F.regexp_replace(no_strings, r"\b[0-9]+(\.[0-9]+)?\b", "?")
