"""Exact (oracle-reproducible) aggregate expression builders.

Float summation order is nondeterministic under parallel aggregation, so a
double SUM can differ between Spark and any oracle in the low bits. All
monetary/measure columns in the test data carry exactly 2 decimal places,
so summing as DECIMAL(18,2) is exact and order-independent; the final cast
back to double is a single deterministic IEEE conversion both engines
perform identically.

SQL mirror for the oracle:  CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def dsum(col: str | Column, alias: str, scale: int = 2) -> Column:
    """Order-independent exact sum of a fixed-point double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


def davg(col: str | Column, alias: str, scale: int = 2) -> Column:
    """Exact average: exact decimal sum, then one double division."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.sum(c.cast(f"decimal(18,{scale})")).cast("double")
    return (total / F.count(c)).alias(alias)


def dsum_expr(expr: str, alias: str) -> Column:
    """Exact sum over a decimal-typed SQL expression (joins/products)."""
    return F.expr(f"CAST(SUM({expr}) AS DOUBLE)").alias(alias)

