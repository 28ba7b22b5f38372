"""Deterministic numeric aggregation helpers.

Double-precision sums are order-dependent; Spark's parallel partial aggregates
and DuckDB's single-threaded scan would drift in the last bits and fail the
driver's value-hash gate. Convention (SURVEY.md §2.C): cast money-ish doubles
to DECIMAL before summing (exact, associative, order-independent), cast the
exact result back to DOUBLE. Both engines then produce bit-identical values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def dsum(col: str | Column, scale: str = MONEY) -> Column:
    """Deterministic sum of a 2-decimal double → double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale)).cast("double")


def dsum_sql(expr: str, scale: str = "DECIMAL(18,2)") -> str:
    return f"CAST(sum(CAST({expr} AS {scale})) AS DOUBLE)"

