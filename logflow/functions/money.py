"""Exact decimal money: the cross-engine determinism rule in one place.

Spark and the DuckDB oracles must agree bit-for-bit on money sums, so money
columns are cast to DECIMAL before summing (exact, order-independent) and
only the rounded result becomes a double (``F.round`` is
half-away-from-zero, like DuckDB's ROUND; see logflow/queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: str, prec: int = 12, scale: int = 2) -> Column:
    """Column ``col`` as DECIMAL(prec, scale)."""
    return F.col(col).cast(f"decimal({prec},{scale})")


def money(sum_col: Column, ndigits: int = 2) -> Column:
    """Exact decimal sum → rounded double (cross-engine stable)."""
    return F.round(sum_col, ndigits).cast("double")
